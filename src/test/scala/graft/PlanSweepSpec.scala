package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Repo-wide plan hygiene: EVERY SparkEntry query whose inputs exist
  * (see `snapshotInputs`) is planned at sf0.001 and swept for the two classic scale-killers —
  *
  *   - `CartesianProduct`: an unbounded pair blowup nothing should
  *     ever plan (single-row-aggregate cross joins broadcast into
  *     BroadcastNestedLoopJoin and are fine; a real CartesianProduct
  *     means two distributed sides multiplied);
  *   - unpartitioned `WindowExec`: a window whose partition spec is
  *     empty sorts the whole input on ONE task — the q173 failure mode
  *     — detected by the first windowspecdefinition argument being an
  *     ordering (no partition columns before it).
  *
  * Global windows are allowed only on PROVABLY BOUNDED frames, each
  * whitelisted here with its bound. New queries get swept
  * automatically — adding a scale-killer fails this suite, not a
  * review.
  */
class PlanSweepSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // summary gates assert artifact paths inside executedPlan strings;
    // the default 100-char metadata truncation can swallow a nested
    // session-temp-root path. Runtime-set (not builder config) because
    // the test JVM's session is shared across suites and the first
    // getOrCreate wins builder configs.
    s.conf.set("spark.sql.maxMetadataStringLength", 500)
    s
  }

  val dir = "/root/testdata/sf0.001"

  /** query → why its global window is bounded (and how). */
  val allowedGlobalWindows: Map[String, String] = Map(
    "q82_bigram_lift" ->
      "rank re-derived over the <= 20 post-TakeOrdered survivors only",
    "q85_bm25" ->
      "rank re-derived over the <= 10 post-TakeOrdered survivors only",
    "q115_head_coverage" ->
      "cumulative window over the vocabulary count table (Heaps'-law bounded)",
    "q127_pq_adc" ->
      "rank over the ADC candidate set (bounded by nprobe buckets x k)",
    "q135_pq_rerank" ->
      "rank over the re-rank candidate set (bounded by rerankFrom)",
    "q138_ivfpq_rerank" ->
      "rank over the composed IVF-PQ candidate set (bounded by rerankFrom)",
    "q197_triangles" ->
      "coEdges p90 rank over the bucket-occupancy table (event_type x hour buckets, domain-bounded)",
    "q205_label_prop" ->
      "coEdges p90 rank over the bucket-occupancy table (event_type x hour buckets, domain-bounded)",
    "q207_graph_components" ->
      "coEdges p90 rank over the bucket-occupancy table (event_type x hour buckets, domain-bounded)",
    "q211_kcore" ->
      "coEdges p90 rank over the bucket-occupancy table (event_type x hour buckets, domain-bounded)",
    "q225_itemset_triples" ->
      "dictionary id assignment over the frequent vocabulary (>= 10% support, Zipf-capped; require < 2^20)",
    "q226_apportion" ->
      "windows over the WEIGHTS table (one row per mixture component — dozens, never corpus-sized)",
    "q235_random_walks" ->
      "coEdges p90 rank re-planned once per walk step (bucket-occupancy table, domain-bounded)",
    "q238_cumulative_users" ->
      "running sum over the DAY table (one row per calendar day)",
    "q240_funnel_latency" ->
      "rank over the conversion-delay histogram (distinct-delay domain, q146-bounded)",
    "q241_assortativity" ->
      "coEdges p90 rank, re-planned per degree-join branch (bucket-occupancy table, domain-bounded)",
    "q242_modularity" ->
      "coEdges p90 rank, re-planned per edge/label branch (bucket-occupancy table, domain-bounded)",
    "q249_revenue_share" ->
      "apportionment windows over the per-region revenue table (one row per region)",
    "q284_pr_curve" ->
      ("cumulative TP/FP over the probability-bucket table (floor-bucketed " +
        "on the 1e-3 grid -> <= 1001 rows by construction)"))

  private val ref = "/root/reference"
  private val refSpectra = s"$ref/data/raw/galaxy_small/spectra"

  /** query → every input path it reads outside `dir`. These five read
    * the HiSS-Cube reference snapshot's committed files (AstroOps and
    * RelationalOps pin their outputs as golden literals of those fixed
    * inputs) and cannot be planned without them, so each is swept only
    * where `/root/reference` holds all of its paths and is otherwise
    * reported as unswept. */
  val snapshotInputs: Map[String, Seq[String]] = Map(
    "q36_csv_scan" -> Seq(s"$ref/data/test_images.csv"),
    "q38_fits_spectra" -> Seq(refSpectra),
    "q39_fits_image" -> Seq(s"$ref/data/raw/images_medium_ds",
      s"$ref/config/ccd_gain.tsv", s"$ref/config/ccd_dark_variance.tsv"),
    "q40_viz_flatten" -> Seq(refSpectra),
    "q111_dsv2_fits_spectra" -> Seq(refSpectra))

  /** First window-spec argument starts with an ordering direction ⇒ the
    * partition-column list is empty ⇒ single-task global sort. */
  def globalWindows(plan: String): Int =
    "windowspecdefinition\\(([^,]*)".r.findAllMatchIn(plan)
      .count(m => m.group(1).contains(" ASC") || m.group(1).contains(" DESC"))

  test("every query plans free of CartesianProduct and unbounded global windows") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val missing = snapshotInputs.getOrElse(name, Nil)
        .filterNot(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      if (missing.nonEmpty) info(s"$name: not swept, missing ${missing.mkString(", ")}")
      else try {
        val p = fn(spark, dir).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct"))
          failures += s"$name: CartesianProduct planned"
        val gw = globalWindows(p)
        if (gw > 0 && !allowedGlobalWindows.contains(name))
          failures += s"$name: $gw unpartitioned window(s) planned"
      } catch {
        case e: Throwable => failures += s"$name: threw ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
