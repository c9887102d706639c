package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalOps

/** Streaming results must agree with their batch twins — the
  * batch-as-bounded-stream identity. */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("stateful sessionize (flatMapGroupsWithState) equals the batch window query") {
    val streaming = EventStream.sessionize(spark, dir).collect()
      .map(s => (s.user_id, s.n_sessions.toLong, s.n_events)).sorted
    val batch = RelationalOps.q21Sessionize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(streaming.toSeq == batch.toSeq)
  }

  test("HLL aggregator registers are byte-identical to the batch column form") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"))
    val sketch = udaf(new graft.functions.HllSketchAggregator())
    val viaAgg = ev.groupBy(col("event_type"))
      .agg(sketch(col("user_id")).as("regs"))
      .select(col("event_type"), posexplode(col("regs")).as(Seq("bucket", "m")))
      .collect()
      .map(r => (r.getString(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
    val viaCols = graft.operators.SketchOps
      .hllRegisters(ev, col("user_id"), col("event_type"))
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("m")).toMap
    assert(viaAgg === viaCols && viaAgg.nonEmpty,
      "typed-aggregator registers must equal the batch register frame")
  }

  test("streaming exact dedup keeps the same survivors as batch q17") {
    val streaming = DocumentStream.dedupProfile(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.operators.TextOps.q17DedupExact(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap // n_distinct
    assert(streaming == batch, s"stream=$streaming batch=$batch")
  }

  test("streaming near-dup dedup drops cross-batch twins, keeps first occurrences") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val base = graft.TempDirs.create("neardup-stream")
    val (src, store, out) = (s"$base/src", s"$base/sigs", s"$base/out")
    val long1 = (0 until 150).map(i => s"w$i").mkString(" ")
    val long2 = (0 until 150).map(i => s"v$i").mkString(" ")
    // batch 1: originals + one in-batch near-twin of doc 10
    val b1 = Seq(
      (10L, long1), (11L, long2),
      (12L, long1.replace("w70", "x70"))) ++
      (20 until 30).map(i => (i.toLong, s"filler $i " + s"u${i * 3} y${i * 7} " * 10))
    // batch 2: a near-twin of batch-1's doc 10 (history dup), a twin of
    // the batch-1 DUP (must still drop — matches survivor 10), a fresh
    // doc, and a CHAIN 11~43~44 with 11≁44 — survivor selection over
    // connected components must drop both 43 and 44 (one-shot parity)
    val b2 = Seq(
      (40L, long1.replace("w20", "z20")),
      (41L, long1.replace("w70", "x70").replace("w20", "z20")),
      (42L, "completely different " + (0 until 40).map(i => s"q$i").mkString(" ")),
      (43L, long2.replace("v131", "a131").replace("v132", "a132")),
      (44L, long2.replace("v131", "a131").replace("v132", "a132")
        .replace("v135", "b135").replace("v136", "b136")
        .replace("v137", "b137").replace("v138", "b138")))
    // batch 3: a CROSS-BATCH chain tail — near the batch-2 DROPPED doc
    // 44 but not near survivor 11; the stored rep of 44 must pull it to
    // component representative 11
    val b3 = Seq(
      (50L, long2.replace("v131", "a131").replace("v132", "a132")
        .replace("v135", "b135").replace("v136", "b136")
        .replace("v137", "b137").replace("v138", "b138")
        .replace("v141", "c141").replace("v142", "c142")))
    b1.toDF("doc_id", "text").write.parquet(s"$src/batch1.parquet")
    val q = DocumentStream.nearDupDedupedStream(spark, src, store, out)
    try {
      q.processAllAvailable()
      b2.toDF("doc_id", "text").write.mode(SaveMode.Append)
        .parquet(s"$src/batch2.parquet")
      q.processAllAvailable()
      b3.toDF("doc_id", "text").write.mode(SaveMode.Append)
        .parquet(s"$src/batch3.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val survivors = spark.read.option("recursiveFileLookup", "true")
      .parquet(out).select($"doc_id").as[Long].collect().toSet
    // 12 (in-batch twin of 10), 40/41 (history dups of 10), the in-batch
    // chain members 43/44, and the cross-batch chain tail 50 all drop;
    // originals + fillers + fresh survive
    assert(Seq(12L, 40L, 41L, 43L, 44L, 50L).forall(!survivors.contains(_)),
      s"dups kept: $survivors")
    assert(survivors.contains(10L) && survivors.contains(11L) &&
      survivors.contains(42L))
    assert((20 until 30).forall(i => survivors.contains(i.toLong)))
    // the store holds EVERY doc seen, rep marks the survivor: rep==self
    // exactly for survivors, and the chain members resolve to 11
    val storeDf = spark.read.parquet(s"$store/sigs")
    val stored = storeDf.select($"doc_id").as[Long].collect().toSet
    assert(stored == (b1 ++ b2 ++ b3).map(_._1).toSet)
    val reps = storeDf.filter($"rep" === $"doc_id")
      .select($"doc_id").as[Long].collect().toSet
    assert(reps == survivors)
    val chainReps = storeDf.filter($"doc_id".isin(43L, 44L, 50L))
      .select($"rep").as[Long].collect().toSet
    assert(chainReps == Set(11L), s"chain reps: $chainReps")
  }

  test("store band probe is partition-pruned and the degree guard trips loudly") {
    import spark.implicits._
    val base = graft.TempDirs.create("neardup-guard")
    val store = s"$base/store"
    val text = (0 until 150).map(i => s"w$i").mkString(" ")
    // batch 1: a boilerplate cluster — 6 near-identical docs
    val b1 = (0 until 6)
      .map(i => (i.toLong, text.replace("w140", s"x$i"))).toDF("doc_id", "text")
    val s1 = DocumentStream
      .nearDupDedupBatch(b1, store, 0.8, Some("batch_0"))
      .select($"doc_id").as[Long].collect().toSet
    assert(s1 == Set(0L))
    // PLAN GATE: the store scan for a probe batch carries partition
    // filters on (band, pbucket) — probe I/O prunes to the batch's
    // buckets, not the whole history
    val probeSigs = graft.operators.TextOps.signatureFrame(
      Seq((100L, text.replace("w140", "x100"))).toDF("doc_id", "text"))
    val buckets = DocumentStream.bucketedBands(probeSigs)
      .select($"band", $"pbucket").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val pruned = DocumentStream.prunedStoreBands(spark, store, buckets).get
    val plan = pruned.queryExecution.executedPlan.toString
    // band is a partition DIRECTORY → partition filter; pbucket is the
    // SORTED in-file bucket column → pushed, min/max-prunable filter
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(!plan.contains("PartitionFilters: []"), plan)
    val partFilters = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).get
    assert(partFilters.contains("band"), plan)
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse("")
    assert(pushed.contains("pbucket"), plan)
    // the near-twin probe lands in the cluster's buckets: all 6 stored
    // band rows live there, and nothing else was stored
    assert(pruned.select($"doc_id").distinct().count() == 6)
    // DEGREE GUARD, strict: the 7th near-copy exceeds maxCandidates=4
    // candidates from the accumulated cluster — refuse loudly, with the
    // remedy in the message, BEFORE anything is written for this batch
    val b2 = Seq((6L, text.replace("w140", "x6"))).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      DocumentStream.nearDupDedupBatch(
        b2, store, 0.8, Some("batch_1"), maxCandidates = 4)
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(ex).contains("band-bucket candidates"), rootMsg(ex))
    assert(!new java.io.File(s"$store/sigs/btag=batch_1").exists())
    // DEGREE GUARD, lossy: capped instead, drop count surfaced in the
    // store's accounting sidecar; the doc still resolves to rep 0
    // through the pairs that survive the cap
    val s2 = DocumentStream.nearDupDedupBatch(
        b2, store, 0.8, Some("batch_1"), maxCandidates = 4, allowLossy = true)
      .select($"doc_id").as[Long].collect().toSet
    assert(s2.isEmpty, s"expected doc 6 to drop, survivors=$s2")
    val drops = spark.read.parquet(s"$store/drops")
      .filter($"btag" === "batch_1")
      .select($"n_capped_pairs").as[Long].head()
    assert(drops >= 1L, s"n_capped_pairs=$drops")
    assert(spark.read.parquet(s"$store/sigs")
      .filter($"doc_id" === 6L).select($"rep").as[Long].head() == 0L)
    graft.operators.TextOps.deleteRecursively(base)
  }

  test("store chunk remap is a bijection: every chunk alone in its own write task") {
    import org.apache.spark.sql.functions._
    // driver-side law: the remapped slot values hash (Murmur3Hash, the
    // HashPartitioning expression, seed 42) onto exactly the partition
    // set 0..n-1 with no collisions — the property plain
    // repartition(n, chunk) lacks (birthday collisions → multi-chunk
    // files with wide min/max bounds that stop skipping)
    for (n <- Seq(32, 64)) {
      val slots = DocumentStream.chunkPartitionValues(n)
      val parts = slots.map { v =>
        val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
          Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)), 42)
          .eval(null).asInstanceOf[Int]
        ((h % n) + n) % n
      }
      assert(parts == (0 until n), s"n=$n remap is not the identity placement")
    }
    // end-to-end: repartitioning on the remapped slot puts each chunk
    // in its OWN task — n non-empty partitions, one distinct chunk each
    val n = 32
    val slots = DocumentStream.chunkPartitionValues(n)
    val placed = spark.range(0, 320)
      .select((col("id") % n).cast("int").as("chunk"))
      .repartition(n, element_at(
        typedLit(slots), (pmod(col("chunk"), lit(n)) + lit(1)).cast("int")))
      .select(spark_partition_id().as("pid"), col("chunk"))
      .groupBy("pid").agg(countDistinct("chunk").as("nch"))
      .collect()
    assert(placed.length == n, s"${placed.length} non-empty tasks, want $n")
    assert(placed.forall(_.getLong(1) == 1L), "a write task holds >1 chunk")
  }

  test("occupancy early-warning fires on a near-hot cluster with zero additional jobs") {
    import spark.implicits._
    val base = graft.TempDirs.create("neardup-warn")
    val text = (0 until 150).map(i => s"w$i").mkString(" ")
    // a planted near-hot boilerplate cluster: 6 near-copies stored, the
    // 7th arrival sees degree 6 — under maxCandidates=10 but past the
    // 0.5 warn fraction
    val b0 = (0 until 6)
      .map(i => (i.toLong, text.replace("w140", s"x$i"))).toDF("doc_id", "text")
    val b1 = Seq((6L, text.replace("w140", "x6"))).toDF("doc_id", "text")
    def runBoth(store: String, warn: Option[Double],
        sink: scala.collection.mutable.Buffer[String]): Int = {
      // count ACTIONS (SQL executions), not raw job starts: AQE may
      // slice one action into a varying number of jobs run-to-run (and
      // the concurrent store writes race to first-touch shared lazy
      // checkpoints), but the set of actions a code path issues is
      // deterministic — and "the warn rides an existing write" is a
      // claim about actions/scans, which is what the gate pins
      val nExec = new java.util.concurrent.atomic.AtomicInteger(0)
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            nExec.incrementAndGet(); ()
          case _ => ()
        }
      }
      DocumentStream.nearDupDedupBatch(b0, store, 0.8, Some("batch_0"),
        maxCandidates = 10, allowLossy = true,
        warnAtOccupancy = warn, onWarn = sink.append(_)).count()
      spark.sparkContext.addSparkListener(counter)
      try {
        DocumentStream.nearDupDedupBatch(b1, store, 0.8, Some("batch_1"),
          maxCandidates = 10, allowLossy = true,
          warnAtOccupancy = warn, onWarn = sink.append(_)).count()
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(counter)
      nExec.get()
    }
    val warns = scala.collection.mutable.Buffer.empty[String]
    val none = scala.collection.mutable.Buffer.empty[String]
    val jobsWithWarn = runBoth(s"$base/s1", Some(0.5), warns)
    val jobsPlain = runBoth(s"$base/s2", None, none)
    // the planted cluster warns (degree 6 ≥ 0.5×10), naming the heat
    assert(warns.nonEmpty, "expected an occupancy warning")
    assert(warns.exists(_.contains("candidate degree reached")), warns.mkString("\n"))
    assert(none.isEmpty)
    // ZERO additional actions: the warning rides the accounting write
    assert(jobsWithWarn == jobsPlain,
      s"warn path ran $jobsWithWarn actions vs $jobsPlain without")
    // the store-heated batch names itself in the warning
    assert(warns.exists(_.contains("batch_1")), warns.mkString("\n"))
    graft.operators.TextOps.deleteRecursively(base)
  }

  test("store compaction converges tags without changing dedup behavior; stats expose bucket heat") {
    import spark.implicits._
    val base = graft.TempDirs.create("neardup-compact")
    val store = s"$base/store"
    val text = (0 until 150).map(i => s"w$i").mkString(" ")
    val other = (0 until 150).map(i => s"v$i").mkString(" ")
    val b0 = Seq((0L, text), (1L, other)).toDF("doc_id", "text")
    val b1 = Seq((2L, text.replace("w40", "x40"))).toDF("doc_id", "text")
    DocumentStream.nearDupDedupBatch(b0, store, 0.8, Some("batch_0"))
    DocumentStream.nearDupDedupBatch(b1, store, 0.8, Some("batch_1"))
    // stats BEFORE compaction: 2 tags; doc 2 resolved as a dup; the
    // twin cluster occupies the hottest band bucket (both members)
    val st = DocumentStream.sigStoreStats(spark, store).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(st.keySet == Set("batch_0", "batch_1"))
    assert(st("batch_0") == ((2L, 0L, st("batch_0")._3)))
    assert(st("batch_1") == ((1L, 1L, st("batch_1")._3)))
    assert(st.values.head._3 == 2L, s"hottest bucket: ${st.values.head._3}")
    val before = spark.read.parquet(s"$store/sigs")
      .select($"doc_id", $"rep").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    DocumentStream.compactSigStore(spark, store)
    // one consolidated (versioned) tag, identical (doc_id, rep) content
    val after = spark.read.parquet(s"$store/sigs")
    assert(after.select($"btag").distinct().as[String].collect().toSeq
      == Seq("compacted-0"))
    assert(after.select($"doc_id", $"rep").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == before)
    assert(!new java.io.File(s"$store/sigs/btag=batch_0").exists())
    // dedup against the compacted store still resolves transitively:
    // a near-copy of the DROPPED doc 2 inherits representative 0
    val b2 = Seq((3L, text.replace("w40", "x40").replace("w90", "y90")))
      .toDF("doc_id", "text")
    val s2 = DocumentStream.nearDupDedupBatch(b2, store, 0.8, Some("batch_2"))
      .select($"doc_id").as[Long].collect().toSet
    assert(s2.isEmpty, s"near-copy of a dropped doc survived: $s2")
    assert(spark.read.parquet(s"$store/sigs")
      .filter($"doc_id" === 3L).select($"rep").as[Long].head() == 0L)
    // re-compaction folds the new batch into a FRESH version (never
    // overwriting the only copy of history in place); a further pass
    // is a no-op
    DocumentStream.compactSigStore(spark, store)
    DocumentStream.compactSigStore(spark, store)
    val tags = spark.read.parquet(s"$store/sigs")
      .select($"btag").distinct().as[String].collect().toSeq
    assert(tags == Seq("compacted-1"), tags.toString)
    assert(spark.read.parquet(s"$store/sigs")
      .filter($"doc_id" === 3L).select($"rep").as[Long].head() == 0L)
    // crash-recovery convergence: simulate a compaction that died after
    // deleting only the SIGS side's old tag — the done-check reads both
    // sides, so a re-run must fold the orphaned bands tag away
    DocumentStream.nearDupDedupBatch(
      Seq((60L, (0 until 150).map(i => s"n$i").mkString(" ")))
        .toDF("doc_id", "text"), store, 0.8, Some("batch_3"))
    graft.operators.TextOps.deleteRecursively(
      java.nio.file.Paths.get(s"$store/sigs/btag=batch_3"))
    assert(new java.io.File(s"$store/bands/btag=batch_3").exists())
    DocumentStream.compactSigStore(spark, store)
    assert(!new java.io.File(s"$store/bands/btag=batch_3").exists())
    val tags2 = spark.read.parquet(s"$store/bands")
      .select($"btag").distinct().as[String].collect().toSeq
    assert(tags2 == Seq("compacted-2"), tags2.toString)
    // tag discovery is metadata-only: checking an already-consolidated
    // store runs ZERO Spark jobs (two directory listings, no scans —
    // the old shape paid two full-store distinct() jobs per check)
    val jobs = org.apache.spark.JobCounter.start(spark.sparkContext)
    try {
      DocumentStream.compactSigStore(spark, store) // no-op: one tag
      val nJobs = jobs.count()
      assert(nJobs == 0,
        s"no-op compaction launched $nJobs Spark job(s)")
    } finally jobs.stop()
    graft.operators.TextOps.deleteRecursively(base)
  }

  test("streaming FITS ingest decodes arriving files like the batch path") {
    val dir = graft.TempDirs.create("stream-fits")
    val (loglam, flux, ivar) = graft.pipeline.FitsFixtures.specGrid(1200)
    graft.pipeline.FitsFixtures.writeSpectrum(
      dir.resolve("spec-2001-54000-0001.fits").toString,
      10.0, -5.0, 2001, 54000, 1, loglam, flux, ivar)
    graft.pipeline.FitsFixtures.writeSpectrum(
      dir.resolve("spec-2001-54001-0002.fits").toString,
      10.1, -5.1, 2001, 54001, 2, loglam, flux, ivar)
    val got = ObservationStream.drainOnce(spark, dir.toString)
    assert(got.count() == 2 * 5) // 2 files × 5 zoom levels
    val batch = graft.pipeline.Ingest.spectra(spark, dir.toString)
    assert(batch.count() == got.count())
    // identical decode: same (spec_id, zoom, n_samples) sets
    val a = got.select("spec_id", "zoom").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = batch.collect().map(s => (s.spec_id, s.zoom)).toSet
    assert(a == b)
  }

  test("windowed stream aggregation covers every event exactly once") {
    val win = EventStream.windowedCounts(spark, dir)
    val total = win.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total == graft.Tables.load(spark, dir, "events").count())
  }

  test("watermark-TTL dedup keeps exactly the batch distinct key counts") {
    import org.apache.spark.sql.functions._
    val streaming = EventStream.dedupWithinWatermark(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        expr("unix_micros(ts) div 600000000").as("bucket"))
      .distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streaming == batch)
  }

  test("q212: stream-static enrichment equals the batch left join, " +
    "dimension misses surface as UNKNOWN") {
    import org.apache.spark.sql.functions._
    val streamed = EventStream.q212StreamEnrich(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sum_event_id")))).toMap
    val ev = graft.Tables.load(spark, dir, "events")
    val dim = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val batch = ev.join(dim, Seq("user_id"), "left")
      .select(
        date_format(expr("timestamp_micros(unix_micros(ts) div 600000000 " +
          "* 600000000)"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        coalesce(col("segment"), lit("UNKNOWN")).as("segment"),
        col("event_id"))
      .groupBy("win_start", "segment")
      .agg(count(lit(1)).as("n"), sum("event_id").as("sum_event_id"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sum_event_id")))).toMap
    assert(streamed === batch)
  }

  test("q230: native session windows conserve events and respect the gap") {
    import org.apache.spark.sql.functions._
    val out = EventStream.q230StreamSessionWindow(spark, dir)
    val ev = graft.Tables.load(spark, dir, "events")
    // conservation: every event is in exactly one session
    assert(out.agg(sum("n")).head.getLong(0) === ev.count())
    // per user, sessions partition the user's events
    val perUser = out.groupBy("user_id").agg(sum("n").as("n")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    val evUser = ev.groupBy("user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n")).toMap
    assert(perUser === evUser)
    // every session spans at least the gap (end = last event + 30 min)
    out.collect().foreach { r =>
      assert(r.getAs[String]("sess_end") > r.getAs[String]("sess_start"))
      assert(r.getAs[Long]("n") >= 1L)
    }
  }

  // ----------------------------------------------------------------- q210

  test("q210: late-data conservation — accepted + dropped = stragglers, " +
    "and the sf0.001 fixture drops every straggler") {
    import org.apache.spark.sql.functions._
    val out = EventStream.q210LateData(spark, dir)
    out.cache()
    val dropped = out.select("n_dropped_total").head.getLong(0)
    val total = out.agg(sum("n")).head.getLong(0)
    val ev = graft.Tables.load(spark, dir, "events")
    val nOnTime = ev.filter(col("event_id") % 5 =!= 0L).count()
    val nStraggler = ev.filter(col("event_id") % 5 === 0L).count()
    assert((total - nOnTime) + dropped === nStraggler, "conservation violated")
    // at sf0.001 every straggler's window closed before the lagged
    // watermark (verified against the batch-replay rule)
    assert(dropped === nStraggler)
    assert(total === nOnTime)
    out.unpersist()
  }
}
