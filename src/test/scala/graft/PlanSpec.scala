package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{RelationalOps, VectorOps}

/** Physical-plan quality gates: the properties that decide whether the
  * operators survive a 100× scale-up — pushdown reaching the parquet
  * scan, broadcast joins for small dims, whole-stage codegen coverage,
  * top-k avoiding a global sort.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 scan pushes filters and prunes columns at the parquet reader") {
    val p = plan(RelationalOps.q02ScanFilter(spark, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThan(l_quantity"), p)
    // pruned read schema: only the referenced columns reach the scan
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_extendedprice"), "column pruning failed:\n" + p)
  }

  test("q03 multi-way join broadcasts the small dims") {
    val p = plan(RelationalOps.q03JoinAgg(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01 aggregation uses partial (map-side) aggregation") {
    val p = plan(RelationalOps.q01Agg(spark, dir))
    assert(p.contains("HashAggregate"), p)
    // partial + final pair
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("ANN top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(VectorOps.q24AnnTopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("scan-heavy queries run inside WholeStageCodegen") {
    val df = RelationalOps.q01Agg(spark, dir)
    df.collect() // materialize so AQE finalizes the plan
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen'd operators
    assert(p.contains("*("), p)
  }

  test("brute-force cosine scan is broadcast-only — no shuffle exchange") {
    val df = graft.operators.VectorOps.q16Cosine(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the probe is broadcast; the scan side must never hash-repartition
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("minhash computes the signature subtree once (ReusedExchange)") {
    val df = graft.operators.TextOps.q23MinHash(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // sigs feeds banding + two verify joins; the exchange must be reused,
    // not recomputed per consumer
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"), p)
  }

  test("ML-cube plan: partial-agg stacks, no MapGroups, frames behind a broadcast join") {
    import spark.implicits._
    // tiny in-memory pipeline inputs (shape only; values irrelevant here)
    val spectra = Seq(
      graft.pipeline.SpectrumObs(0, 1L, "a.fits", 150.0, 2.0, 53000.0, 1001L, 53000L, 1,
        42L, Array(1f, 2f), Array(1f, 2f), Array(0.1f, 0.1f), Map.empty),
      graft.pipeline.SpectrumObs(0, 2L, "b.fits", 150.0, 2.0, 53001.0, 1001L, 53001L, 2,
        42L, Array(1f, 2f), Array(3f, 4f), Array(0.1f, 0.1f), Map.empty)).toDS()
    val wcs = graft.pipeline.WcsParams(1, 1, 1e-4, 0, 0, 1e-4, 150.0, 2.0)
    val images = Seq(
      graft.pipeline.ImageObs(0, 10L, "f.fits", "u", 3551, 1000, 3, 1, 53000.0, 7L,
        4, 4, Array.fill(4)(Array.fill(4)(1f)), Array.fill(4)(Array.fill(4)(0.1f)),
        wcs, Map.empty)).toDS()
    val links = Seq(
      graft.pipeline.CutoutLink(0, 1L, 10L, "u", 0L, 2L, 0L, 2L)).toDS()

    val ml = graft.pipeline.MlCube.build(spectra, links, images, requiredBands = 1)
    ml.collect() // finalize AQE
    val p = ml.queryExecution.executedPlan.toString
    // the round-1 scale killer: groupByKey+mapGroups forced every payload
    // across the shuffle; the udaf path must partial-aggregate instead
    assert(!p.contains("MapGroups"), "mapGroups full-payload shuffle is back:\n" + p)
    assert(p.contains("ObjectHashAggregate"), p)
    // partial + final pair for the stacks (map-side combine before exchange)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    // frames must stream through a broadcast join against the link projection
    assert(p.contains("BroadcastHashJoin"), "cutout join not broadcast:\n" + p)
    // both stacks run as the native aggregate, partial and final, over the
    // f32 arrays as stored: no encoder-based ScalaAggregator and no
    // per-element cast-to-double pass feeding it
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    val aggs = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(ml.queryExecution.executedPlan) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.aggregateExpressions
      }.flatten
    assert(!aggs.exists(_.aggregateFunction
      .isInstanceOf[org.apache.spark.sql.execution.aggregate.ScalaAggregator[_, _, _]]), p)
    val ivw = aggs.filter(_.aggregateFunction.isInstanceOf[graft.functions.IvwStackAggregator])
    assert(ivw.count(_.mode == Partial) >= 2 && ivw.count(_.mode == Final) >= 2, p)
    assert("""lambdafunction\(cast\(lambda [^)]* as double\)""".r.findFirstIn(p).isEmpty,
      "cast pass feeds the stack:\n" + p)
  }

  test("link candidates prune pixel payloads out of both parquet scans") {
    import spark.implicits._
    val tmp = graft.TempDirs.create("linkplan")
    val wcs = graft.pipeline.WcsParams(1, 1, 1e-4, 0, 0, 1e-4, 150.0, 2.0)
    Seq(graft.pipeline.SpectrumObs(0, 1L, "a.fits", 150.0, 2.0, 53000.0, 1001L,
        53000L, 1, 42L, Array(1f, 2f), Array(1f, 2f), Array(0.1f, 0.1f), Map.empty))
      .toDS().write.parquet(s"$tmp/spectra")
    // image indexed at the spectrum's own cell so the cell equi-join is
    // non-empty and AQE keeps real scans in the final plan
    val imgCell = graft.functions.Healpix.ang2pixLonLat(
      graft.pipeline.Ingest.ImgHealOrder, 150.0, 2.0)
    Seq(graft.pipeline.ImageObs(0, 10L, "f.fits", "u", 3551, 1000, 3, 1, 53000.0,
        imgCell, 4, 4, Array.fill(4)(Array.fill(4)(1f)), Array.fill(4)(Array.fill(4)(0.1f)),
        wcs, Map.empty))
      .toDS().write.parquet(s"$tmp/images")
    val cand = graft.pipeline.Link.candidates(
      spark.read.parquet(s"$tmp/spectra").as[graft.pipeline.SpectrumObs],
      spark.read.parquet(s"$tmp/images").as[graft.pipeline.ImageObs])
    cand.collect()
    val p = cand.queryExecution.executedPlan.toString
    // the cell equi-join must carry ONLY index columns: the flux/sigma
    // pixel arrays (and header maps) stay behind column pruning — at
    // 100 TB the link shuffle moves ids and bounds, never payloads
    assert(!p.contains("flux"), "pixel columns leaked into the link plan:\n" + p)
    assert(!p.contains("sigma"), "pixel columns leaked into the link plan:\n" + p)
    assert(!p.contains("header"), "header maps leaked into the link plan:\n" + p)
  }

  test("k-means assignment broadcasts centroids and partial-aggregates the argmin") {
    val df = graft.operators.VectorOps.q57KmeansIter(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // K centroids ride a broadcast nested-loop; the min_by argmin and the
    // member sums must partial-aggregate (map-side combine), never sort
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("retrieval top-k compiles to TakeOrderedAndProject") {
    val df = graft.operators.TextOps.q59TfidfTopK(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to a global sort:\n" + p)
  }

  test("decontamination joins the corpus against a BROADCAST benchmark index") {
    val df = graft.operators.TextOps.q55Decontamination(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the benchmark shingle index is small by construction: the corpus
    // side must stream through a broadcast-hash semi/inner join, never
    // shuffle its exploded shingles for a sort-merge join
    assert(p.contains("BroadcastHashJoin"), "benchmark side not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "corpus shingles hit a sort-merge join:\n" + p)
  }

  test("heavy hitters compile to TakeOrderedAndProject over a partial aggregate") {
    val df = graft.operators.TextOps.q68HeavyHitters(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to a global sort:\n" + p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no map-side combine:\n" + p)
  }

  test("bloom decontamination: prefilter below a broadcast verify join, no sort-merge") {
    val df = graft.operators.TextOps.q67BloomDecontaminate(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the UDF probe must run scan-side (a Filter in the corpus branch),
    // and the exact verify must stay a broadcast join — the whole point
    // is that corpus shingles never shuffle
    assert(p.contains("BroadcastHashJoin"), "verify join not broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "corpus shingles hit a sort-merge join:\n" + p)
  }

  test("sequence packing shuffles once on the source key (window + agg colocated)") {
    val df = graft.operators.TextOps.q70SeqPacking(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the running-sum window partitions by source; the following
    // (source, pack_id) aggregate must reuse that partitioning rather
    // than shuffle again: exactly one exchange hashing on source.
    // (AQE prints the pre-adaptive plan too — count the final plan only.)
    val finalPlan = p.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges:\n" + p)
  }

  test("trailing range window and ordinal trim shuffle exactly once on their key") {
    for (df <- Seq(
        graft.operators.MiningOps.q93TrailingActivity(spark, dir),
        graft.operators.MiningOps.q100QualityTrim(spark, dir))) {
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
      // the window's key-local exchange must be REUSED by everything
      // downstream (q100's per-source agg rides the window's partitioning)
      assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges:\n$finalPlan")
    }
  }

  test("prefix-filter join shingles once: the repartition exchange is reused") {
    val df = graft.operators.MiningOps.q95PrefixFilterJoin(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // one shingle pass feeds df-counts, sizes, prefix ranks, and both
    // verify probes — without reuse the explode+shingle HOF re-runs
    // per consumer (the q23 discipline)
    val reused = "ReusedExchange".r.findAllIn(finalPlan).size
    assert(reused >= 4, s"expected >=4 reused exchanges, saw $reused:\n$finalPlan")
  }

  test("keyless range join is rewritten off the nested-loop path") {
    val df = graft.operators.MiningOps.q104RangeJoinNative(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to a nested loop:\n$p")
    assert(p.contains("__gr_bucket"), s"range-join rewrite did not fire:\n$p")
  }

  test("q105 paths: top-k is TakeOrdered and the prefix cut rides the window sort") {
    val p = plan(graft.operators.InsightOps.q105SessionPaths(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
    // rn <= 3 must push into the per-user sort as a group limit — at
    // corpus scale this keeps 3 rows/user instead of whole histories
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q106 anomaly: the 5-row moments side is broadcast, not shuffled") {
    val p = plan(graft.operators.InsightOps.q106HourlyAnomaly(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q109 itemsets: the basket self-join is keyed, never a nested loop") {
    val p = plan(graft.operators.InsightOps.q109ItemsetPairs(spark, dir))
    // the (user, day) equi keys must reach a hash/merge join — the
    // item_a < item_b theta conjunct alone would be a nested loop over
    // the whole basket table. (The 1-row basket-total crossJoin is an
    // IdentityBroadcast and exempt.)
    assert(
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[user_id".r
        .findFirstIn(p).isDefined,
      s"basket join lost its equi keys:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q110 streaks: window and both aggregates ride one user_id exchange") {
    val df = graft.operators.InsightOps.q110ActivityStreaks(spark, dir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // distinct shuffles once on (user_id, d); the window and the
    // (user_id, grp) + (user_id) aggregates are all user_id-local
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    val reused = "ReusedExchange".r.findAllIn(finalPlan).size
    assert(exchanges - reused <= 2,
      s"expected <=2 distinct shuffles, saw $exchanges-$reused:\n$finalPlan")
  }

  test("q107 novelty: the shingle explode runs once per join side, no more") {
    val p = plan(graft.operators.InsightOps.q107ShingleNovelty(spark, dir))
    // one Generate per consumer (postings + first-occurrence agg); a
    // third would mean the HOF re-evaluated behind a lost exchange
    val generates = "Generate explode".r.findAllIn(p).size
    assert(generates == 2, s"expected 2 shingle explodes, saw $generates:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q112 pii redaction: stateless column pass, one aggregate exchange") {
    val df = graft.operators.HygieneOps.q112PiiRedaction(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // regexes run in the scan projection; the only shuffle is the
    // per-source aggregate (partial + final around one exchange)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle, saw $exchanges:\n$p")
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
  }

  test("q114 df spectrum: one shingle explode, aggregates only") {
    val df = graft.operators.HygieneOps.q114DfSpectrum(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert("Generate explode".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Join"), "df spectrum must not join:\n" + p)
    // shingle-key shuffle + (tiny) df-key shuffle — never more
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected <=2 shuffles, saw $exchanges:\n$p")
  }

  test("q116 substring decon: phrase list broadcast, corpus never shuffles pre-filter") {
    val df = graft.operators.HygieneOps.q116SubstringDecon(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // contains() is non-equi, so the join must be a BROADCAST nested
    // loop over the tiny phrase list — never a cartesian shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q121 proximity join: symmetric band rewritten off the nested-loop path") {
    val df = graft.operators.MiningOps.q121ProximityJoin(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"symmetric band planned as a nested loop:\n$p")
    assert(p.contains("__gr_bucket"), s"rewrite did not fire:\n$p")
  }

  test("q122 left-outer range join: rewritten, no nested loop") {
    val df = graft.operators.MiningOps.q122LeftRangeJoin(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"left-outer window planned as a nested loop:\n$p")
    assert(p.contains("__gr_bucket"), s"rewrite did not fire:\n$p")
  }

  test("q111 DSv2 FITS: metadata-only queries never materialize pixel arrays") {
    // the q111 oracle gates the DATA path; this gates the PRUNING path —
    // a catalog query (positions only) must push its column set into the
    // source so the decoder skips wl/flux/sigma entirely
    val specDir = TempDirs.create("q111-spectra")
    val (loglam, flux, ivar) = graft.pipeline.FitsFixtures.specGrid()
    for (k <- 1 to 11)
      graft.pipeline.FitsFixtures.writeSpectrum(
        specDir.resolve(f"spec-0411-${51800 + k}-$k%04d.fits").toString,
        46.5 + 0.01 * k, -0.34, 411, 51800 + k, k, loglam, flux, ivar)
    val df = spark.read.format("graft.sources.fits.FitsDataSource")
      .load(specDir.toString)
      .select("ra", "dec", "zoom", "healpix")
    val p = plan(df)
    val cols = "cols=([^ \\n]*)".r.findFirstMatchIn(p).map(_.group(1))
    assert(cols.isDefined, s"no DSv2 scan description:\n$p")
    for (pixel <- Seq("flux", "sigma", "wl"))
      assert(!cols.get.split(",").contains(pixel),
        s"pixel column '$pixel' reached the scan: ${cols.get}")
    assert(df.count() == 55) // 11 synthetic spectra x 5 zooms
  }

  // ---------------------------------------------------------------- q209

  test("q209: salted join equals the plain join row-for-row at any factor") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type")
    val dim = ev.groupBy($"user_id").agg(count(lit(1)).as("n_user_events"))
    val plain = ev.join(dim, "user_id")
      .select($"event_id", $"user_id", $"n_user_events")
    for (f <- Seq(1, 3, 8)) {
      val salted = graft.operators.RelationalOps
        .saltedJoin(ev, dim, "user_id", $"event_id", f)
        .select($"event_id", $"user_id", $"n_user_events")
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"factor $f diverges from the plain join")
    }
  }

  test("q209: with broadcast off, the shuffle join keys carry the salt") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ev = graft.Tables.load(spark, dir, "events")
        .select($"event_id", $"user_id", $"event_type")
      val dim = ev.groupBy($"user_id").agg(count(lit(1)).as("n_user_events"))
      val p = plan(graft.operators.RelationalOps
        .saltedJoin(ev, dim, "user_id", $"event_id", 8))
      assert(!p.contains("BroadcastHashJoin"), s"broadcast despite -1:\n$p")
      assert(p.contains("__salt"), s"salt key absent from the join plan:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q237 star join: three broadcast hops, the fact side never " +
    "shuffles before the aggregate") {
    val p = plan(RelationalOps.q237StarJoin(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size === 3, p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly ONE shuffle in the whole plan — the aggregate's; no join
    // repartitions the fact table
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 1, p)
  }

  test("q249: region shares sum to exactly one million ppm") {
    val out = RelationalOps.q249RevenueShare(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getAs[Long]("share_ppm")).sum === 1000000L)
  }
}
