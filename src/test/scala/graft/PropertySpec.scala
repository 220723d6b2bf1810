package graft

import java.nio.file.Files

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed

import graft.tsdb.{ActivityLedger, StoreSettings, TimeSeriesStore}

/** Property-based invariants the reference's example-driven suite never
  * states (SURVEY.md §5): write→read inversion under arbitrary batches,
  * LWW idempotence, and purge conservation (hot∪cold reads are invariant
  * across the tiering lifecycle).
  */
class PropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Minimal forAll driver over explicit seeds — the scalatestplus bridge
    * is not in the offline dependency cache, so properties sample the
    * generator directly (deterministic seeds → reproducible failures).
    */
  private def forAllSeeded[T](gen: Gen[T], n: Int = 4)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default.withSize(8), Seed(i.toLong)) match {
        case Some(v) => body(v)
        case None    => ()
      }
    }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-property-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // small domains keep each Spark round-trip fast while still exercising
  // partition-boundary and collision cases
  private val genBatch: Gen[Map[String, Map[Long, String]]] = for {
    nTags <- Gen.choose(1, 3)
    tags <- Gen.listOfN(nTags, Gen.oneOf("A", "B", "C"))
    batches <- Gen.sequence[List[(String, Map[Long, String])], (String, Map[Long, String])](
      tags.distinct.map { t =>
        for {
          n <- Gen.choose(1, 8)
          ts <- Gen.listOfN(n, Gen.choose(-25L, 25L))
          vs <- Gen.listOfN(n, Gen.alphaNumStr.map(_.take(6)))
        } yield t -> ts.zip(vs).toMap
      })
  } yield batches.toMap

  private def freshStore(): TimeSeriesStore = {
    val store = new TimeSeriesStore(spark,
      Files.createTempDirectory("graft-prop").toString,
      StoreSettings(partitionWidth = 10L))
    store.initialize()
    store
  }

  test("property: a sequence of writes reads back as last-write-wins merge") {
    forAllSeeded(Gen.listOfN(3, genBatch)) { writes =>
      if (writes.nonEmpty && writes.forall(_.nonEmpty)) {
        val store = freshStore()
        writes.foreach(b => if (b.nonEmpty) store.write(b))
        // model: fold the batches in order, later writes win
        val model = writes.foldLeft(Map.empty[String, Map[Long, String]]) {
          case (acc, batch) =>
            batch.foldLeft(acc) { case (a, (tag, m)) =>
              a + (tag -> (a.getOrElse(tag, Map.empty) ++ m))
            }
        }
        val tags = model.keySet
        val got = store.readData(tags.map(t => t -> (-100L, 100L)).toMap)
        val want = model.collect { case (t, m) if m.nonEmpty => t -> SortedMap(m.toSeq: _*) }
        assert(got === want)
      }
    }
  }

  test("property: an activity line round-trips through encodeLine and parseLine") {
    val genStr = Gen.listOf(Gen.oneOf('"', '\\', '\n', '\t', '\u0000', '\u001f', ',', '}',
      '{', ':', '-', 'a', '\u00e9', '\u2028')).map(_.mkString)
    val genAct = for {
      tag <- genStr
      kind <- genStr
      ps <- Arbitrary.arbitrary[Long]
      at <- Arbitrary.arbitrary[Long]
      pmax <- Gen.option(Arbitrary.arbitrary[Long])
      amin <- Gen.option(Arbitrary.arbitrary[Long])
    } yield ActivityLedger.Act(tag, ps, at, kind, pmax, amin)
    forAllSeeded(genAct, n = 200) { a =>
      val line = ActivityLedger.encodeLine(a)
      assert(!line.exists(_ < ' '), line)
      assert(ActivityLedger.parseLine(line) === Some(a), line)
    }
  }

  test("property: purge lifecycle conserves the readable contents") {
    forAllSeeded(genBatch) { batch =>
      if (batch.nonEmpty) {
        val store = freshStore()
        var now = 1000000L
        store.clock = () => now
        store.write(batch)
        val before = store.readData(batch.keySet.map(t => t -> (-100L, 100L)).toMap)
        now += 10000
        val ids = store.purgeScan(partitionAgeThreshold = 1, maxPartitionsToMark = 100)
        assert(ids.nonEmpty)
        // archive + ack every marked partition
        store.pendingPurgeEntries().foreach { e =>
          store.archiveToCold(e.id)
          assert(store.purgeAck(e.id, e.partitionName, e.tag) === 1)
        }
        val after = store.readData(batch.keySet.map(t => t -> (-100L, 100L)).toMap)
        assert(after === before)
        assert(store.hotDF.count() === 0)
      }
    }
  }

  test("property: two-phase readIndex/readPage composition equals one-plan readData") {
    // the reference's client-side composition (consumer-test.js:1135-1162):
    // readIndex → per-page readPage → reverse to oldest-first → overwrite-
    // merge. Must produce exactly the single declarative plan's answer.
    forAllSeeded(Gen.listOfN(2, genBatch)) { writes =>
      if (writes.nonEmpty) {
        val store = freshStore()
        writes.foreach(b => if (b.nonEmpty) store.write(b))
        val tags = writes.flatMap(_.keySet).toSet
        if (tags.nonEmpty) {
          val ranges = tags.map(t => t -> (-100L, 100L)).toMap
          val viaPlan = store.readData(ranges)
          val idx = store.readIndex(ranges)
          val viaPhases = idx.collect { case (tag, pages) if pages.nonEmpty =>
            val merged = pages.reverse // oldest-first; newer pages overwrite
              .map(p => store.readPage(p.page, p.start, p.end))
              .foldLeft(Map.empty[Long, String])(_ ++ _)
            tag -> SortedMap(merged.toSeq: _*)
          }.filter(_._2.nonEmpty)
          assert(viaPhases === viaPlan)
        }
      }
    }
  }

  test("property: L0 flush placement is invisible to readers") {
    forAllSeeded(Gen.zip(Gen.listOfN(4, genBatch), Gen.choose(0, 15))) {
      case (writes, flushMask) =>
        if (writes.nonEmpty) {
          // two stores, same writes; one flushes L0 at arbitrary points
          val a = freshStore()
          val b = freshStore()
          writes.zipWithIndex.foreach { case (batch, i) =>
            if (batch.nonEmpty) {
              a.write(batch)
              b.write(batch)
              if (((flushMask >> i) & 1) == 1) b.flushL0()
            }
          }
          val tags = writes.flatMap(_.keySet).toSet
          if (tags.nonEmpty) {
            val ranges = tags.map(t => t -> (-100L, 100L)).toMap
            assert(a.readData(ranges) === b.readData(ranges))
            // and the declarative Spark path agrees with the fast path
            val viaPlan = a.readDataDF(ranges).select("tag", "ts", "value")
              .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
            val viaFast = a.readData(ranges).flatMap { case (t, m) =>
              m.map { case (ts, v) => (t, ts, v) }
            }.toSet
            assert(viaPlan === viaFast)
          }
        }
    }
  }

  test("property: random write/flush/compact/purge sequences preserve readable content") {
    // ops: 0=write, 1=flushL0, 2=compact, 3=full purge cycle. The readable
    // LWW state must equal the model (fold of writes) after EVERY op.
    val genOps = Gen.listOfN(8, Gen.zip(Gen.choose(0, 3), genBatch))
    forAllSeeded(genOps, n = 3) { ops =>
      val store = freshStore()
      var now = 1000000L
      store.clock = () => now
      var model = Map.empty[String, Map[Long, String]]
      ops.foreach { case (op, batch) =>
        now += 5000
        op match {
          case 0 if batch.nonEmpty =>
            store.write(batch)
            model = batch.foldLeft(model) { case (a, (tag, m)) =>
              a + (tag -> (a.getOrElse(tag, Map.empty) ++ m))
            }
          case 1 => store.flushL0()
          case 2 => store.compact(minFiles = 1, applyLww = true)
          case 3 =>
            store.purgeScan(partitionAgeThreshold = 1, maxPartitionsToMark = 100)
            store.pendingPurgeEntries().foreach { e =>
              store.archiveToCold(e.id)
              assert(store.purgeAck(e.id, e.partitionName, e.tag) === 1)
            }
          case _ => ()
        }
        if (model.nonEmpty) {
          val got = store.readData(model.keySet.map(t => t -> (-100L, 100L)).toMap)
          val want = model.collect { case (t, m) if m.nonEmpty => t -> SortedMap(m.toSeq: _*) }
          assert(got === want, s"after op $op")
        }
      }
    }
  }

  test("property: time travel reproduces the model state at every mutation boundary") {
    // ops: 0=write, 1=flushL0, 2=compact, 3=delete (tag + range drawn
    // from the generated batch). The model tracks (value, writeClock)
    // per key; after the full sequence, readAsOfDF at every boundary
    // must reproduce the model state THEN, and changesBetween across
    // random boundary pairs must classify exactly the model diff.
    val genOps = Gen.listOfN(8, Gen.zip(Gen.choose(0, 3), genBatch))
    forAllSeeded(genOps, n = 3) { ops =>
      val store = new TimeSeriesStore(spark,
        Files.createTempDirectory("graft-prop-tt").toString,
        StoreSettings(partitionWidth = 10L), obsoleteGraceMs = 1L << 60)
      store.initialize()
      var now = 1000000L
      store.clock = () => now
      var model = Map.empty[String, Map[Long, (String, Long)]]
      val timeline = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Map[String, Map[Long, (String, Long)]])]
      ops.foreach { case (op, batch) =>
        now += 5000
        op match {
          case 0 if batch.nonEmpty =>
            store.write(batch)
            model = batch.foldLeft(model) { case (a, (tag, m)) =>
              a + (tag -> (a.getOrElse(tag, Map.empty) ++
                m.view.mapValues(v => (v, now)).toMap))
            }
          case 1 => store.flushL0()
          case 2 => store.compact(minFiles = 1, applyLww = true)
          case 3 if batch.nonEmpty =>
            val tag = batch.keys.min
            val keys = batch(tag).keys
            val (lo, hi) = (keys.min, keys.max)
            store.delete(tag, lo, hi)
            model = model.updatedWith(tag)(_.map(_.filter {
              case (k, _) => k < lo || k > hi
            }))
          case _ => ()
        }
        timeline += ((now, model))
      }
      // every boundary's snapshot ≡ the model state then — through every
      // later rewrite (compactions retire files at later clocks)
      timeline.foreach { case (t, m) =>
        val snap = store.lwwDedup(store.readAsOfDF(t))
          .select("tag", "ts", "value").collect()
          .groupBy(_.getString(0))
          .map { case (tag, rows) =>
            tag -> rows.map(r => r.getLong(1) -> r.getString(2)).toMap }
        val want = m.collect { case (tag, kv) if kv.nonEmpty =>
          tag -> kv.view.mapValues(_._1).toMap }
        assert(snap === want, s"snapshot at $t diverged from the model")
      }
      // CDF across boundary pairs: classify against the model diff
      // (update = winner's writeClock changed, value equality irrelevant)
      val bs = timeline.toSeq
      Seq((0, bs.size - 1), (0, bs.size / 2), (bs.size / 2, bs.size - 1))
        .filter { case (i, j) => i < j }.foreach { case (i, j) =>
          val (ti, mi) = bs(i); val (tj, mj) = bs(j)
          def flat(m: Map[String, Map[Long, (String, Long)]]) =
            m.flatMap { case (tag, kv) => kv.map { case (ts, v) => (tag, ts) -> v } }
          val (fi, fj) = (flat(mi), flat(mj))
          val wantKinds = (fi.keySet ++ fj.keySet).toSeq.flatMap { k =>
            (fi.get(k), fj.get(k)) match {
              case (None, Some(_))                      => Seq(k -> "insert")
              case (Some(_), None)                      => Seq(k -> "delete")
              case (Some((_, c1)), Some((_, c2))) if c1 != c2 =>
                Seq(k -> "update_preimage", k -> "update_postimage")
              case _                                    => Seq.empty
            }
          }.groupBy(identity).view.mapValues(_.size).toMap
          val got = store.changesBetween(ti, tj)
            .select("tag", "ts", "change_type").collect()
            .map(r => ((r.getString(0), r.getLong(1)), r.getString(2)))
            .groupBy(identity).view.mapValues(_.length).toMap
          assert(got === wantKinds, s"diff [$ti,$tj] diverged from the model")
        }
    }
  }

  test("property: compaction is invisible to readers") {
    forAllSeeded(Gen.listOfN(3, genBatch)) { writes =>
      if (writes.nonEmpty) {
        val store = freshStore()
        writes.foreach(b => if (b.nonEmpty) store.write(b))
        val tags = writes.flatMap(_.keySet).toSet
        if (tags.nonEmpty) {
          val before = store.readData(tags.map(t => t -> (-100L, 100L)).toMap)
          store.compact(minFiles = 1, applyLww = true)
          val after = store.readData(tags.map(t => t -> (-100L, 100L)).toMap)
          assert(after === before)
        }
      }
    }
  }

  test("property: native as-of exec ≡ compositional as-of on random event sets") {
    import spark.implicits._
    // small key/ts domains force heavy collisions: equal-ts ties, empty
    // key groups on either side, keys present on only one side
    val genEvents: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long)])] = for {
      nL <- Gen.choose(0, 25)
      nR <- Gen.choose(0, 25)
      mk = for {
        key <- Gen.choose(1L, 5L)
        ts <- Gen.choose(0L, 20L)
      } yield (key, ts)
      ls <- Gen.listOfN(nL, mk)
      rs <- Gen.listOfN(nR, mk)
    } yield (
      ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) },
      rs.zipWithIndex.map { case ((k, t), i) => (1000L + i, k, t) })
    forAllSeeded(genEvents, n = 6) { case (ls, rs) =>
      val left = ls.toDF("event_id", "user_id", "ts_ms")
      val right = rs.toDF("event_id", "user_id", "ts_ms")
      val native = graft.plans.NativeAsOfJoin.backward(left, right,
        Seq("user_id"), "ts_ms", "ts_ms", "event_id", "r_")
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      val composed = graft.operators.AsOfJoin.backward(left, right,
        Seq("user_id"), "ts_ms", "ts_ms", "event_id", "r_")
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      assert(native === composed, s"left=$ls right=$rs")
    }
  }

  test("property: alternating-star components equal driver BFS on random graphs") {
    import spark.implicits._
    // dense small id-space forces multi-edge components, chains, isolated
    // pairs, self-duplicates; chains specifically exercise the
    // diameter-independence the algorithm exists for
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 40)
      mk = for { a <- Gen.choose(1L, 16L); b <- Gen.choose(1L, 16L) } yield (a, b)
      es <- Gen.listOfN(n, mk)
    } yield es.filter { case (a, b) => a != b }
    def bfs(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = scala.collection.mutable.HashMap.empty[Long, List[Long]]
      edges.foreach { case (a, b) =>
        adj(a) = b :: adj.getOrElse(a, Nil); adj(b) = a :: adj.getOrElse(b, Nil)
      }
      val label = scala.collection.mutable.HashMap.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { start =>
        if (!label.contains(start)) {
          var frontier = List(start)
          val seen = scala.collection.mutable.HashSet(start)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(adj(_)).filterNot(seen)
            frontier.foreach(seen.add)
          }
          val m = seen.min
          seen.foreach(v => label(v) = m)
        }
      }
      label.toMap
    }
    forAllSeeded(genEdges, n = 6) { es =>
      val expected = bfs(es)
      val got = graft.analytics.Graph.starComponents(es.toDF("u", "v"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"edges=$es")
    }
  }

  test("property: BPE merge candidates equal the naive pair count on random words") {
    import spark.implicits._
    val genWords: Gen[List[String]] = for {
      n <- Gen.choose(1, 30)
      w = for {
        len <- Gen.choose(1, 6)
        cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString
      ws <- Gen.listOfN(n, w)
    } yield ws
    forAllSeeded(genWords, n = 4) { ws =>
      val naive = ws.filter(_.length >= 2)
        .flatMap(w => w.sliding(2).toSeq)
        .groupBy(identity).map { case (p, o) => (p, o.size.toLong) }
        .toSeq.sortBy { case (p, c) => (-c, p) }.take(5)
      val docs = ws.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val got = graft.analytics.TextAnalysis.bpeMergeCandidates(docs, k = 5)
        .as[(String, Long)].collect().toSeq
      assert(got === naive, s"words=$ws")
    }
  }

  test("property: streaming debounce equals the naive lag-gap fold on random bursts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // dense ts domain forces bursts (gaps < 60000) and exact-boundary gaps
    val genEvents: Gen[List[(Long, String, Long, Long)]] = for {
      n <- Gen.choose(1, 30)
      mk = for {
        u <- Gen.choose(1L, 3L)
        t <- Gen.oneOf("a", "b")
        ts <- Gen.oneOf(Gen.choose(0L, 200000L), Gen.const(60000L), Gen.const(120000L))
      } yield (u, t, ts)
      es <- Gen.listOfN(n, mk)
    } yield es.zipWithIndex.map { case ((u, t, ts), i) => (u, t, ts, i.toLong) }
    def naive(es: Seq[(Long, String, Long, Long)]): Map[(Long, String), Long] =
      es.groupBy(e => (e._1, e._2)).map { case (k, g) =>
        val sorted = g.sortBy(e => (e._3, e._4))
        var prev = Long.MinValue
        var keptIds = 0L
        sorted.foreach { case (_, _, ts, eid) =>
          if (prev == Long.MinValue || ts - prev >= 60000L) keptIds += eid
          prev = ts
        }
        k -> keptIds
      }
    forAllSeeded(genEvents, n = 4) { es =>
      val input = MemoryStream[(Long, String, Long, Long)](
        org.apache.spark.sql.Encoders.product[(Long, String, Long, Long)], spark)
      val name = s"db_${System.nanoTime()}"
      val q = graft.streaming.StreamingIngest.debounceKept(input.toDS())
        .toDF("user_id", "event_type", "ts_ms", "event_id")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        input.addData(es: _*)
        q.processAllAvailable()
        import org.apache.spark.sql.functions.{col, sum}
        val got = spark.table(name)
          .groupBy("user_id", "event_type")
          .agg(sum(col("event_id")).as("s"))
          .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
        assert(got === naive(es), s"events=$es")
      } finally q.stop()
    }
  }

  test("property: DriverBudget guard — zero budget forces the distributed fallback, answers unchanged") {
    import graft.analytics.{Dedup, DriverBudget, Similarity}
    import spark.implicits._
    // guard arithmetic: hardCap clamps, bytesPerRow divides the budget
    assert(DriverBudget.maxRows(100L, hardCap = 5L) <= 5L)
    assert(DriverBudget.maxRows(1L) === DriverBudget.budgetBytes)
    val ds = spark.range(10).map(i => (i, i))
    assert(DriverBudget.collectWithin(ds, 10L, 100L).isDefined)

    val sf = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
    val fast = Similarity.kmeansIvfTopK(emb, k = 3, queryModulo = 50,
      numCentroids = 8, iters = 1).orderBy("query_id", "neighbor_id")
      .collect().map(_.toSeq).toSeq
    val clustersFast = Dedup.duplicateClusters(docs, 0.4)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq

    DriverBudget.budgetOverrideBytes = 0L
    try {
      // the switch itself
      assert(DriverBudget.collectWithin(ds, 10L, 100L).isEmpty)
      // k-means rounds materialize via localCheckpoint instead of a
      // driver collect; the centroids (and thus the search answer) must
      // be bit-identical
      val slow = Similarity.kmeansIvfTopK(emb, k = 3, queryModulo = 50,
        numCentroids = 8, iters = 1).orderBy("query_id", "neighbor_id")
        .collect().map(_.toSeq).toSeq
      assert(slow === fast)
      // union-find falls back to the distributed min-label fixpoint
      val clustersSlow = Dedup.duplicateClusters(docs, 0.4)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(clustersSlow === clustersFast)
    } finally DriverBudget.budgetOverrideBytes = -1L
  }

  // ---- compaction-plan conservation (round 8) ----
  // For arbitrary file-stat tables the plan must PARTITION the input:
  // per part_key, Σ n_files and Σ group_bytes equal the input's, every
  // group's ts span lies inside the partition's, and group ids respect
  // the time-ordered running-byte boundary (group g only starts once
  // cum_before has crossed g·target).
  private val genFiles: Gen[List[(String, Long, Long, Long, Long)]] = for {
    n <- Gen.choose(1, 20)
    rows <- Gen.listOfN(n, for {
      part <- Gen.oneOf("p0", "p1", "p2")
      fid <- Gen.choose(1L, 1000L)
      bytes <- Gen.choose(1L, 300L)
      t0 <- Gen.choose(0L, 5000L)
      span <- Gen.choose(0L, 500L)
    } yield (part, fid, bytes, t0, t0 + span))
  } yield rows.distinctBy(r => (r._1, r._2))

  test("compactionPlan conserves files/bytes and respects target boundaries") {
    import spark.implicits._
    forAllSeeded(genFiles, n = 6) { rows =>
      val files = rows.toDF("part_key", "file_id", "bytes", "min_ts", "max_ts")
      val target = 250L
      val plan = graft.analytics.Layout.compactionPlan(files, target).collect()
      val inByPart = rows.groupBy(_._1)
      // conservation per partition
      plan.groupBy(_.getString(0)).foreach { case (part, groups) =>
        val in = inByPart(part)
        assert(groups.map(_.getLong(2)).sum === in.size.toLong)
        assert(groups.map(_.getLong(3)).sum === in.map(_._3).sum)
        assert(groups.map(_.getLong(4)).min === in.map(_._4).min)
        assert(groups.map(_.getLong(5)).max === in.map(_._5).max)
        // boundary monotonicity: replay the packing and check every
        // file's group id = floor(cum_before / target)
        val ordered = in.sortBy(r => (r._4, r._2))
        var cum = 0L
        ordered.foreach { r =>
          val expectGrp = cum / target
          assert(groups.exists(g => g.getLong(1) == expectGrp),
            s"file $r expected group $expectGrp missing in $part")
          cum += r._3
        }
      }
      assert(plan.map(_.getString(0)).toSet === inByPart.keySet)
    }
  }

  test("property: bounded k-core peel equals the driver reference on random graphs") {
    import spark.implicits._
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 40)
      mk = for { a <- Gen.choose(1L, 16L); b <- Gen.choose(1L, 16L) } yield (a, b)
      es <- Gen.listOfN(n, mk)
    } yield es.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct
    def refPeel(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      var es = edges
      for (_ <- 1 to rounds) {
        val deg = (es.map(_._1) ++ es.map(_._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val surv = deg.filter(_._2 >= k).keySet
        es = es.filter(p => surv(p._1) && surv(p._2))
      }
      (es.map(_._1) ++ es.map(_._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    }
    forAllSeeded(genEdges, n = 6) { es =>
      val got =
        if (es.isEmpty) Map.empty[Long, Long]
        else graft.analytics.Graph.kCore(es.toDF("u", "v"), k = 2, rounds = 4)
          .as[(Long, Long)].collect().toMap
      assert(got === refPeel(es, 2, 4), s"edges=$es")
    }
  }

  test("property: threading random delta batches through mergeDelta equals from-scratch components") {
    import spark.implicits._
    val genCase: Gen[(List[(Long, Long)], Int)] = for {
      n <- Gen.choose(2, 40)
      mk = for { a <- Gen.choose(1L, 16L); b <- Gen.choose(1L, 16L) } yield (a, b)
      es <- Gen.listOfN(n, mk)
      split <- Gen.choose(0, n)
    } yield (es.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct, split)
    def bfsRef(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = scala.collection.mutable.HashMap.empty[Long, List[Long]]
      edges.foreach { case (a, b) =>
        adj(a) = b :: adj.getOrElse(a, Nil); adj(b) = a :: adj.getOrElse(b, Nil)
      }
      val label = scala.collection.mutable.HashMap.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { start =>
        if (!label.contains(start)) {
          var frontier = List(start)
          val seen = scala.collection.mutable.HashSet(start)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(adj(_)).filterNot(seen)
            frontier.foreach(seen.add)
          }
          val m = seen.min
          seen.foreach(v => label(v) = m)
        }
      }
      label.toMap
    }
    forAllSeeded(genCase, n = 6) { case (es, splitRaw) =>
      if (es.nonEmpty) {
        val split = splitRaw.min(es.length)
        val (hist, delta) = es.splitAt(split)
        var state = bfsRef(hist).toSeq.toDF("doc_id", "cluster_id")
        // thread the delta through in two arbitrary micro-batches
        delta.grouped(1.max((delta.length + 1) / 2)).foreach { b =>
          if (b.nonEmpty)
            state = graft.analytics.Graph.mergeDelta(b.toDF("u", "v"), state)
              .localCheckpoint(true)
        }
        val got = state.as[(Long, Long)].collect().toMap
        assert(got === bfsRef(es), s"hist=$hist delta=$delta")
      }
    }
  }

  test("property: link prediction equals the brute-force neighborhood Jaccard on random graphs") {
    import spark.implicits._
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 40)
      mk = for { a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) } yield (a, b)
      es <- Gen.listOfN(n, mk)
    } yield es.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct
    def ref(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
      val nbr = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
      edges.foreach { case (a, b) =>
        nbr(a) = nbr.getOrElse(a, Set.empty) + b
        nbr(b) = nbr.getOrElse(b, Set.empty) + a
      }
      val nodes = nbr.keys.toSeq.sorted
      (for {
        a <- nodes; b <- nodes if a < b
        if !edges.contains((a, b))
        cn = (nbr(a) & nbr(b)).size.toLong if cn > 0
      } yield (a, b, cn)).toSet
    }
    forAllSeeded(genEdges, n = 6) { es =>
      if (es.nonEmpty) {
        val got = graft.analytics.Graph
          .linkPrediction(es.toDF("u", "v"), topN = 1000)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === ref(es), s"edges=$es")
      }
    }
  }

  test("property: bounded BFS distances equal the driver reference on random graphs") {
    import spark.implicits._
    val genEdges: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(1, 40)
      mk = for { a <- Gen.choose(1L, 16L); b <- Gen.choose(1L, 16L) } yield (a, b)
      es <- Gen.listOfN(n, mk)
    } yield es.filter { case (a, b) => a != b }
    def ref(edges: Seq[(Long, Long)], maxHops: Int): Map[Long, Long] = {
      val adj = scala.collection.mutable.HashMap.empty[Long, List[Long]]
      edges.foreach { case (a, b) =>
        adj(a) = b :: adj.getOrElse(a, Nil); adj(b) = a :: adj.getOrElse(b, Nil)
      }
      // seeds: node % 4 == 0 among edge-bearing nodes
      val dist = scala.collection.mutable.HashMap.empty[Long, Long]
      adj.keys.filter(_ % 4 == 0).foreach(s => dist(s) = 0L)
      (1 to maxHops).foreach { d =>
        val frontier = dist.filter(_._2 == d - 1).keys.toSeq
        frontier.flatMap(adj(_)).foreach { v =>
          if (!dist.contains(v)) dist(v) = d.toLong
        }
      }
      dist.toMap
    }
    forAllSeeded(genEdges, n = 6) { es =>
      if (es.nonEmpty) {
        val sym = es ++ es.map(_.swap)
        val got = graft.analytics.Graph.bfsHops(
            sym.toDF("src", "dst"),
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.col("node"),
              org.apache.spark.sql.functions.lit(4L)) === 0L,
            maxHops = 4)
          .as[(Long, Long)].collect().toMap
        assert(got === ref(es, 4), s"edges=$es")
      }
    }
  }

  test("property: skippingAudit counts exactly the files a reference interval check hits") {
    import spark.implicits._
    val genFiles: Gen[List[(Long, Long, Long, Long, Long)]] = for {
      n <- Gen.choose(1, 20)
      mk = for {
        pk <- Gen.choose(0L, 3L); fid <- Gen.choose(0L, 1000L)
        lo <- Gen.choose(0L, 500L); span <- Gen.choose(0L, 300L)
        bytes <- Gen.choose(1L, 1000L)
      } yield (pk, fid, bytes, lo, lo + span)
      fs <- Gen.listOfN(n, mk)
    } yield fs.distinct
    forAllSeeded(genFiles, n = 6) { fs =>
      val df = fs.toDF("part_key", "file_id", "bytes", "min_ts", "max_ts")
      val got = graft.analytics.Layout.skippingAudit(df, nProbes = 4)
        .collect()
        .map(r => r.getAs[Long]("probe") ->
          ((r.getAs[Long]("files_hit"), r.getAs[Long]("bytes_hit")))).toMap
      val tmin = fs.map(_._4).min
      val tend = fs.map(_._5).max + 1
      val w = (tend - tmin) / 4
      (0L to 3L).foreach { p =>
        val ws = tmin + p * w
        val we = if (p == 3) tend else tmin + (p + 1) * w
        val hit = fs.filter(f => f._4 < we && f._5 >= ws)
        // an empty probe window (possible when the span is tiny) emits no
        // row — the audit reports hits, not zero-rows
        if (hit.nonEmpty)
          assert(got(p) === ((hit.size.toLong, hit.map(_._3).sum)),
            s"probe $p files=$fs")
        else assert(!got.contains(p))
      }
    }
  }

  test("property: modularity terms equal the textbook formula on random graphs and labelings") {
    import spark.implicits._
    val genCase: Gen[(List[(Long, Long)], Map[Long, Long])] = for {
      n <- Gen.choose(1, 30)
      mk = for { a <- Gen.choose(1L, 12L); b <- Gen.choose(1L, 12L) } yield (a, b)
      es <- Gen.listOfN(n, mk)
      labels <- Gen.listOfN(12, Gen.choose(0L, 3L))
    } yield (es.map { case (a, b) => if (a < b) (a, b) else (b, a) }
      .filter { case (a, b) => a != b }.distinct,
      (1L to 12L).zip(labels).toMap)
    forAllSeeded(genCase, n = 6) { case (es, lab) =>
      if (es.nonEmpty) {
        val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
        val labDf = nodes.map(v => (v, lab(v))).toDF("node", "community")
        val got = graft.analytics.Graph.modularity(es.toDF("u", "v"), labDf)
          .collect()
          .map(r => r.getAs[Long]("community") ->
            ((r.getAs[Long]("m_intra"), r.getAs[Long]("d_c"),
              r.getAs[Long]("q_term_num")))).toMap
        val m = es.size.toLong
        val deg = (es.map(_._1) ++ es.map(_._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        nodes.map(lab).distinct.foreach { c =>
          val mIntra = es.count { case (a, b) => lab(a) == c && lab(b) == c }.toLong
          val dC = nodes.filter(lab(_) == c).map(deg).sum
          assert(got(c) === ((mIntra, dC, 4L * m * mIntra - dC * dC)),
            s"community $c edges=$es labels=$lab")
        }
      }
    }
  }

  test("property: detrendedProfile matches the driver reference window arithmetic on random series") {
    import spark.implicits._
    val genSeries: Gen[List[(String, Long, Long, Double)]] = for {
      n <- Gen.choose(26, 60)
      vs <- Gen.listOfN(n, Gen.choose(0, 50000).map(_ / 100.0))
    } yield vs.zipWithIndex.map { case (v, i) =>
      ("t", i * 1800000L, i.toLong, v)
    }
    forAllSeeded(genSeries, n = 5) { rows =>
      val df = rows.toDF("event_type", "ts_ms", "event_id", "value")
      val got = graft.analytics.Seasonal.detrendedProfile(df)
        .collect()
        .map(r => r.getAs[Long]("hod") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("sum_d25")))).toMap
      val cents = rows.map(r => math.floor(r._4 * 100 + 0.5).toLong)
      val interior = (12 until rows.length - 12).map { i =>
        val sw = (i - 12 to i + 12).map(cents).sum
        (rows(i)._2 / 3600000L % 24, cents(i) * 25 - sw)
      }
      val want = interior.groupBy(_._1).view
        .mapValues(xs => (xs.size.toLong, xs.map(_._2).sum)).toMap
      assert(got === want, s"series=${rows.map(_._4)}")
    }
  }

  test("property: MMR selection equals the driver greedy reference on random embeddings") {
    import spark.implicits._
    val genVecs: Gen[List[Array[Float]]] = for {
      n <- Gen.choose(3, 12)
      mkV = Gen.listOfN(4, Gen.choose(-100, 100).map(_ / 100.0f))
      vs <- Gen.listOfN(n, mkV.map(_.toArray))
    } yield vs
    def quant(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 10000 + 0.5).toLong)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    def refMmr(vs: List[Array[Float]], k: Int, shortlist: Int)
        : Seq[(Long, Long, Long)] = {
      val q = quant(vs.head) // vec 0 is the only id % 50 == 0 query
      val cands = vs.zipWithIndex.drop(1)
        .map { case (v, i) => (i.toLong, quant(v)) }
      val sl = cands.map { case (id, v) => (id, v, cos(q, v)) }
        .sortBy { case (id, _, rel) => (-rel, id) }.take(shortlist)
      var selected = List.empty[(Long, Array[Long])]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      (1 to k).foreach { t =>
        val rest = sl.filterNot(c => selected.exists(_._1 == c._1))
        if (rest.nonEmpty) {
          val pick =
            if (t == 1) rest.maxBy { case (id, _, rel) => (rel, -id) }
            else rest.map { case (id, v, rel) =>
              val ms = selected.map(s => cos(v, s._2)).max
              (id, v, 0.7 * rel - 0.3 * ms)
            }.maxBy { case (id, _, sc) => (sc, -id) }
          selected ::= (pick._1, sl.find(_._1 == pick._1).get._2)
          out += ((0L, t.toLong, pick._1))
        }
      }
      out.toSeq
    }
    forAllSeeded(genVecs, n = 5) { vs =>
      // vectors with a zero norm break cosine on both sides identically —
      // exclude them the way prep data never contains them
      if (vs.forall(v => quant(v).exists(_ != 0L))) {
        val df = vs.zipWithIndex
          .map { case (v, i) => (i.toLong, s"l${i % 3}", v) }
          .toDF("vec_id", "label", "embedding")
        val got = graft.analytics.Similarity
          .mmrSelect(df, k = 5, shortlist = 20, queryModulo = 50)
          .orderBy("sel_rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(got === refMmr(vs, 5, 20), s"vecs=${vs.map(_.toList)}")
      }
    }
  }
}
