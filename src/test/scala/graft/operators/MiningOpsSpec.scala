package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables.load

/** Third curation batch (q91-q94): the winnowing guarantee, funnel
  * stage ordering, range-frame tie semantics, and salted-join identity
  * + plan shape.
  */
class MiningOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  val dir = "/root/testdata/sf0.001"

  // ---------------------------------------------------------------- q91

  test("q91: shared token runs of length >= w+2 share a selected fingerprint") {
    // winnowing guarantee (w=4, k=3): any common substring of w+k-1 = 6
    // tokens forces a common selected fingerprint in both docs
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, s"one two $shared three four five six seven", "srcA"),
      (1L, s"nine ten eleven twelve $shared thirteen fourteen", "srcB"),
      (2L, "totally different words without any overlap at all here", "srcC")
    ).toDF("doc_id", "text", "source")
    docs.createOrReplaceTempView("winnow_docs")

    // re-run the q91 pipeline on the tiny frame, keeping per-doc fps
    val w = 4
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
    val frame = byDoc.orderBy($"pos").rowsBetween(
      org.apache.spark.sql.expressions.Window.currentRow, w - 1)
    val sel = docs
      .select($"doc_id", explode(expr(
        """element_at(transform(array(split(text, ' ')), t ->
          |  transform(sequence(1, greatest(size(t) - 2, 1)),
          |    i -> struct(cast(i - 1 AS long) AS pos,
          |      concat_ws(' ', t[i-1], t[i], t[i+1]) AS sh))), 1)""".stripMargin)).as("g"))
      .select($"doc_id", $"g.pos".as("pos"), substring(md5($"g.sh"), 1, 8).as("h"))
      .withColumn("fp", min($"h").over(frame))
      .withColumn("n_sh", count(lit(1)).over(byDoc))
      .filter($"pos" <= $"n_sh" - w)
      .select($"doc_id", $"fp").distinct().collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSet }

    assert((sel(0L) intersect sel(1L)).nonEmpty,
      "docs sharing a 6-token run must share a winnowing fingerprint")
    assert((sel(0L) intersect sel(2L)).isEmpty,
      "no-overlap docs should not collide on these inputs")
  }

  test("q91: selection is a subset of shingle hashes and compresses the index") {
    val out = MiningOps.q91Winnowing(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val nWindows = r.getAs[Long]("n_windows")
      val nSelected = r.getAs[Long]("n_selected")
      val nDistinct = r.getAs[Long]("n_distinct_fp")
      assert(nSelected <= nWindows, "cannot select more fps than windows")
      assert(nDistinct <= nSelected)
      // 2/(w+1) expected density — generous upper bound at 60%
      assert(r.getAs[Long]("keep_ppm") < 600000L,
        s"winnowing should prune well below 60% (got ${r.getAs[Long]("keep_ppm")} ppm)")
    }
  }

  test("winnowed substring-dup profile: q69 contract, run-length law, index cut") {
    // winnowing guarantee: a verbatim run of w+k-1 = 6 tokens IS flagged
    val shared = "alpha beta gamma delta epsilon zeta"
    val dup = Seq(
      (0L, s"one two $shared three four five six seven"),
      (1L, s"nine ten eleven twelve $shared thirteen fourteen"))
      .toDF("doc_id", "text")
    val flagged = MiningOps.substringDupProfileWinnowed(dup).head()
    assert(flagged.getAs[Long]("n_shared_windows") >= 1L,
      s"6-token shared run must survive winnowing: $flagged")
    assert(flagged.getAs[Long]("n_shared_occurrences") >=
      2 * flagged.getAs[Long]("n_shared_windows"))
    // disjoint docs profile to zero shared mass
    val clean = Seq(
      (0L, "one two three four five six seven eight nine ten"),
      (1L, "eleven twelve thirteen fourteen fifteen sixteen seventeen"))
      .toDF("doc_id", "text")
    val none = MiningOps.substringDupProfileWinnowed(clean).head()
    assert(none.getAs[Long]("n_shared_windows") == 0L)
    assert(none.getAs[Long]("dup_ppm") == 0L)
    // same output contract as q69 (drop-in swap for profile consumers)
    val q69cols = TextOps.q69SubstringDup(spark, dir).columns.toSeq
    assert(MiningOps.substringDupProfileWinnowed(
      load(spark, dir, "documents")).columns.toSeq == q69cols)
    // the storage trade is real: the winnowed index carries well under
    // half of the full 8-token window mass on the real corpus
    val docs = load(spark, dir, "documents")
    val fullWindows = docs
      .select(explode(TextOps.tokenWindows($"text", 8)).as("g")).count()
    val winnowed = MiningOps.substringDupProfileWinnowed(docs).head()
    assert(winnowed.getAs[Long]("n_windows") < fullWindows / 2,
      s"winnowed index ${winnowed.getAs[Long]("n_windows")} vs full $fullWindows")
  }

  // ---------------------------------------------------------------- q92

  test("q92: funnel stages are strictly ordered and monotonically null") {
    val out = MiningOps.q92EventFunnel(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val v = r.getAs[Long]("v_us")
      val c = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val p = if (r.isNullAt(3)) None else Some(r.getLong(3))
      c.foreach(cu => assert(cu > v, "first qualifying click is after first view"))
      p.foreach { pu =>
        assert(c.isDefined, "a purchase stage requires a click stage")
        assert(pu > c.get, "first qualifying purchase is after the click")
      }
    }
    // the funnel must actually narrow on realistic event data
    val nC = out.count(!_.isNullAt(2))
    assert(nC > 0 && nC <= out.length)
  }

  // ---------------------------------------------------------------- q93

  test("q93: trailing count matches a brute-force recompute") {
    val ev = load(spark, dir, "events")
      .select($"event_id", $"user_id", $"event_type", unix_micros($"ts").as("us"))
      .collect()
    val byUser = ev.groupBy(_.getLong(1))
    val expected = ev.filter(_.getString(2) == "purchase").map { r =>
      val us = r.getLong(3)
      val n = byUser(r.getLong(1)).count { e =>
        e.getLong(3) <= us && e.getLong(3) >= us - 86400000000L
      }
      r.getLong(0) -> n.toLong
    }.toMap
    val got = MiningOps.q93TrailingActivity(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == expected)
    assert(got.nonEmpty)
  }

  // ---------------------------------------------------------------- q94

  test("q94: salted join result is identical to the plain join") {
    val ev = load(spark, dir, "events")
    val dim = ev.groupBy($"user_id").agg(count(lit(1)).as("user_events"))
    val plain = ev.select($"event_id", $"user_id", $"event_type")
      .join(dim, "user_id")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"user_events").as("sum_user_events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = MiningOps.q94SaltedJoin(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  // ---------------------------------------------------------------- q95

  test("q95: prefix filtering drops no qualifying pair (== brute force)") {
    val sh = load(spark, dir, "documents")
      .select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), $"da" === col("sa.doc_id"))
      .join(sizes.as("sb"), $"db" === col("sb.doc_id"))
      .filter(lit(8) * $"inter" >= lit(3) * (col("sa.n") + col("sb.n")))
      .select($"da", $"db", $"inter")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pf = MiningOps.q95PrefixFilterJoin(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pf == brute)
  }

  test("q95: planted near-dup pair survives and scores above threshold") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val docs = Seq(
      (0L, base.trim),
      (1L, (base + "lambda mu").trim), // tiny suffix edit: J >> 0.6
      (2L, "совершенно other content with no shared trigrams at all " +
        "zero overlap anywhere in this document body text")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("pf_docs")
    // run the operator's pipeline directly on the tiny frame
    val sh = docs.select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), $"da" === col("sa.doc_id"))
      .join(sizes.as("sb"), $"db" === col("sb.doc_id"))
      .filter(lit(8) * $"inter" >= lit(3) * (col("sa.n") + col("sb.n")))
      .select($"da", $"db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("q95: the prefix index is strictly smaller than the full index") {
    val sh = load(spark, dir, "documents")
      .select($"doc_id", explode(TextOps.shingles($"text")).as("g"))
    val df = sh.groupBy($"g").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val full = sh.count()
    val prefix = sh.join(df, "g")
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"df", $"g")))
      .join(sizes, "doc_id")
      .filter($"rnk" <= $"n" - expr("(3 * n + 4) div 5") + 1)
      .count()
    // t = 0.6 keeps ~2/5 of each doc's postings
    assert(prefix < full * 45 / 100,
      s"prefix index must prune the inverted index ($prefix vs $full)")
  }

  // --------------------------------------------------------- q97-q100

  test("q97: pivot columns conserve the per-user event total") {
    val out = MiningOps.q97PivotEvents(spark, dir)
    val totals = out.select($"user_id",
      ($"n_view" + $"n_click" + $"n_purchase" + $"n_signup" + $"n_error").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = load(spark, dir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(totals == expected)
  }

  test("q97: pivot with explicit values schedules no eager distinct-values job") {
    // in-memory frame: isolates pivot behavior from parquet listing jobs
    val ev = Seq((1L, "view"), (1L, "click"), (2L, "view"))
      .toDF("user_id", "event_type")
    val jobs = org.apache.spark.JobCounter.start(spark.sparkContext)
    try {
      // the q97 shape: explicit values — building + optimizing runs no job
      val q = ev.groupBy($"user_id")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
      q.queryExecution.optimizedPlan
      val withValues = jobs.count()
      // the anti-shape: no values list — Spark eagerly collects the
      // distinct pivot values DURING construction, a blocking pass
      // never acceptable at scale
      ev.groupBy($"user_id").pivot("event_type").agg(count(lit(1)))
      val without = jobs.count()
      assert(withValues == 0,
        "explicit pivot values must keep plan construction job-free")
      assert(without > withValues,
        "omitting the values list must cost an eager distinct-values job")
    } finally jobs.stop()
  }

  test("q98: transition matrix row mass sums to the from-state total") {
    val m = MiningOps.q98SessionTransitions(spark, dir).collect()
    assert(m.nonEmpty)
    // per from_type, share_ppm sums to ~1e6 (integer div truncation only)
    m.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val total = rows.map(_.getAs[Long]("share_ppm")).sum
      assert(total <= 1000000L && total > 1000000L - rows.length,
        s"share_ppm must partition the from-state mass, got $total")
    }
  }

  test("q99: cohort counts at offset 0 cover every user exactly once") {
    val out = MiningOps.q99RetentionCohorts(spark, dir).collect()
    val day0 = out.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    val nUsers = load(spark, dir, "events")
      .select($"user_id").distinct().count()
    assert(day0 == nUsers, "every user appears in their own cohort at offset 0")
    out.foreach(r => assert(r.getLong(1) >= 0L, "offsets are never negative"))
  }

  test("q100: trim keeps the ordinal middle and conserves bounds") {
    val out = MiningOps.q100QualityTrim(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nIn, nKept) = (r.getAs[Long]("n_in"), r.getAs[Long]("n_kept"))
      assert(nKept == nIn - 2 * (nIn / 10), "exactly n div 10 cut from each tail")
      assert(r.getAs[Long]("min_kept_tok") <= r.getAs[Long]("max_kept_tok"))
    }
  }

  // -------------------------------------------------------- q101-q103

  test("q101: unpivot conserves the pivoted mass and inverts the reshape") {
    val long = MiningOps.q101UnpivotEvents(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = load(spark, dir, "events")
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), "n_" + r.getString(1)) -> r.getLong(2)).toMap
    assert(long == expected)
  }

  test("q102: segments are disjoint and union to the viewer set") {
    val out = MiningOps.q102AudienceSetOps(spark, dir).collect()
    val both = out.filter(_.getString(0) == "view_and_buy").map(_.getLong(1)).toSet
    val only = out.filter(_.getString(0) == "view_no_buy").map(_.getLong(1)).toSet
    assert((both intersect only).isEmpty)
    val viewers = load(spark, dir, "events")
      .filter($"event_type" === "view").select($"user_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert((both union only) == viewers)
  }

  test("q103: gap-fill spans are contiguous and zero days are real gaps") {
    val rows = MiningOps.q103GapFill(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (_, rs) =>
      val days = rs.map(_._2).sorted
      val (d0, d1) = (java.time.LocalDate.parse(days.head),
        java.time.LocalDate.parse(days.last))
      assert(days.length == java.time.temporal.ChronoUnit.DAYS.between(d0, d1) + 1,
        "every calendar day in the span appears exactly once")
      // endpoints are observed activity by construction
      assert(rs.minBy(_._2)._3 > 0 && rs.maxBy(_._2)._3 > 0)
    }
    assert(rows.exists(_._3 == 0L) || byUser.forall(_._2.forall(_._3 > 0)),
      "zero-filled rows appear whenever a span has inactive days")
  }

  test("q94: the join exchange partitions on (key, salt), not key alone") {
    val ev = load(spark, dir, "events")
    val fact = ev.select($"event_id", $"user_id", $"event_type")
    val dim = ev.groupBy($"user_id").agg(count(lit(1)).as("user_events"))
    val joined = MiningOps.saltedJoin(
      fact, xxhash64($"event_id"), dim, "user_id", 8)
    joined.collect() // force AQE final plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt column must reach the physical join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"salted join must stay a shuffled join, not broadcast:\n$plan")
    // same-key fact rows fan out: salts per hot key > 1
    val fanout = fact
      .withColumn("__salt", pmod(xxhash64($"event_id"), lit(8)))
      .groupBy($"user_id").agg(countDistinct($"__salt").as("nsalts"))
      .agg(max($"nsalts")).head().getLong(0)
    assert(fanout > 1, "salting must spread a hot key over multiple partitions")
  }

  // ---------------------------------------------------------------- q160

  test("q160: planted hot key gets the right share and salt factor") {
    // "hot" carries 90 of 100 rows next to 10 singleton keys:
    // share = 900000 ppm, salt = ceil(90 * 11 / 100) = 10
    val rows = (Seq.fill(90)("hot") ++ (1 to 10).map(i => s"cold-$i"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "k").repartition(7)
    val prof = MiningOps.skewProfile(rows, $"k", topK = 3).collect()
    assert(prof.length === 3)
    val top = prof.head
    assert(top.getAs[String]("key") === "hot")
    assert(top.getAs[Long]("c") === 90L)
    assert(top.getAs[Long]("share_ppm") === 900000L)
    assert(top.getAs[Long]("salt_factor") === 10L)
    assert(top.getAs[Long]("n_rows") === 100L && top.getAs[Long]("n_keys") === 11L)
    // singleton keys round up to salt factor 1, ties broken by key
    assert(prof(1).getAs[String]("key") === "cold-1")
    assert(prof(1).getAs[Long]("salt_factor") === 1L)
  }

  test("q160: top-k plans as TakeOrderedAndProject, never a global sort") {
    val rows = (1 to 1000).map(i => (i.toLong, s"k-${i % 50}")).toDF("id", "k")
    val prof = MiningOps.skewProfile(rows, $"k")
    val plan = prof.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"bounded top-k missing:\n$plan")
  }

  test("q160: uniform keys all recommend salt factor 1") {
    val rows = (1 to 60).map(i => (i.toLong, s"k-${i % 6}")).toDF("id", "k")
    val prof = MiningOps.skewProfile(rows, $"k").collect()
    assert(prof.length === 6)
    assert(prof.forall(_.getAs[Long]("salt_factor") === 1L))
    assert(prof.forall(_.getAs[Long]("share_ppm") === 166666L))
  }

  // ---------------------------------------------------------------- q199

  test("q199: attribution conserves value exactly — total credit is " +
    "10000 bps times total purchase micros") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.load(spark, dir, "events")
    val totalMicros = ev.filter(col("event_type") === "purchase")
      .select(sum(floor(col("value") * 1e6 + 0.5).cast("long")))
      .collect()(0).getLong(0)
    val out = MiningOps.q199Attribution(spark, dir).collect()
    assert(out.map(_.getAs[Long]("credit_scaled")).sum === totalMicros * 10000L)
    // the planted window is wide enough that all three classes appear
    val types = out.map(_.getAs[String]("touch_type")).toSet
    assert(types.contains("click") && types.contains("view"))
  }

  test("q216: EWMA weights decay by exact powers of two; stale hours score 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: 2 events at hour H, 3 at H-1, 5 at H-31, 7 at H-32 (stale)
    val h0 = 400000L // hour index; ts = h*3600 seconds epoch
    def at(h: Long, n: Int, u: Long) =
      (1 to n).map(i => (u, h * 3600L + i))
    val rows = at(h0, 2, 1L) ++ at(h0 - 1, 3, 1L) ++
      at(h0 - 31, 5, 1L) ++ at(h0 - 32, 7, 1L)
    val ev = rows.toDF("user_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = MiningOps.ewmaLastHour(ev).collect()
    assert(out.length === 1)
    val expected = 2L * (1L << 31) + 3L * (1L << 30) + 5L * (1L << 0)
    assert(out.head.getAs[Long]("last_hour") === h0)
    assert(out.head.getAs[Long]("ewma_scaled") === expected)
  }

  test("q229: bursts collapse to their first event; conservation and id fold pin survivors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1 'click': t=0,1,2 (one burst), t=700,701 (second burst)
    val rows = Seq((1L, 10L, 0L), (1L, 11L, 1L), (1L, 12L, 2L),
      (1L, 13L, 700L), (1L, 14L, 701L))
    val ev = rows.toDF("user_id", "event_id", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("event_type", lit("click"))
    val out = MiningOps.debounce(ev, gapSec = 600L).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_events") === 5L)
    assert(r.getAs[Long]("n_kept") === 2L)
    assert(r.getAs[Long]("n_collapsed") === 3L)
    assert(r.getAs[Long]("kept_id_fold") === 10L + 13L)
  }

  test("q229: conservation holds per type on real data") {
    val out = MiningOps.q229Debounce(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_collapsed") ===
        r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("n_kept") >= 1L)
    }
  }

  test("q246: the cleared inequality agrees with the float z-squared test") {
    val r = MiningOps.q246AbTest(spark, dir).collect().head
    val (n1, c1, n2, c2) = (r.getAs[Long]("n1").toDouble,
      r.getAs[Long]("c1").toDouble, r.getAs[Long]("n2").toDouble,
      r.getAs[Long]("c2").toDouble)
    assert(n1 > 0 && n2 > 0)
    val p = (c1 + c2) / (n1 + n2)
    val z2 = math.pow(c1 / n1 - c2 / n2, 2) /
      (p * (1 - p) * (1 / n1 + 1 / n2))
    if (math.abs(z2 - 4.0) > 1e-6)
      assert(r.getAs[Boolean]("significant_2sigma") === (z2 > 4.0),
        s"integer test disagrees with z^2=$z2")
    // conservation: arms partition the users, conversions bounded
    assert(c1 <= n1 && c2 <= n2)
  }

  test("q240: pinned conversion delays hit the rank-rule quantiles exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 4 users: view at t=0, click at +1s (x3) and +10s (x1)
    // p50: smallest d with 100*cum >= 50*4 -> d=1; p90/p99 -> d=10
    val rows = (1 to 4).flatMap { u =>
      val delta = if (u == 4) 10L else 1L
      Seq((u.toLong, "view", u * 10000L), (u.toLong, "click", u * 10000L + delta))
    }
    val ev = rows.toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val tmp = graft.TempDirs.create("q240").toString
    ev.select(col("user_id"), col("event_type"), col("ts"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = MiningOps.q240FunnelLatency(spark, tmp).collect()
      .map(r => r.getAs[Long]("p") -> r.getAs[Long]("q_sec")).toMap
    assert(out === Map(50L -> 1L, 90L -> 10L, 99L -> 10L))
  }

  test("q225: downward closure on a pinned corpus — the shared triple wins") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c"), (3L, "a b"), (4L, "c d"))
      .toDF("doc_id", "text")
    val out = MiningOps.itemsetTriples(docs, topK = 10).collect()
    // df: a=3 b=3 c=3 d=2, all >= 10% of 4 docs -> all frequent
    // triples: doc1 {abc,abd,acd,bcd}, doc2 {abc} -> abc support 2
    val top = out.head
    assert((top.getString(0), top.getString(1), top.getString(2),
      top.getAs[Long]("support")) === (("a", "b", "c", 2L)))
    assert(out.length === 4)
    out.tail.foreach(r => assert(r.getAs[Long]("support") === 1L))
  }

  test("packed_triples ≡ the nested-HOF triple enumeration — same " +
    "elements, same order, every size and a seeded random sweep") {
    graft.plans.VectorExpressions.register(spark)
    val rnd = new scala.util.Random(4060L)
    // m >= 3 only: the HOF chain is UNDEFINED below that (descending
    // sequences + out-of-range element_at) — itemsetTriples filters
    // size >= 3 before it, and the native expression mirrors that
    // domain (m < 3 yields the empty array, asserted separately below)
    val arrays: Seq[Seq[Long]] =
      (3 to 12).map(m => (1 to m).map(_.toLong)) ++ // dense prefixes
        (1 to 20).map { _ => // sorted random draws from the 20-bit domain
          val m = 3 + rnd.nextInt(30)
          Seq.fill(m)(1L + rnd.nextInt((1 << 20) - 1)).sorted.map(_.toLong)
        }
    arrays.foreach { ids =>
      val df = Seq(Tuple1(ids)).toDF("ids")
      val hof = df.select(expr(
        """flatten(transform(sequence(1, size(ids) - 2), i ->
          |  flatten(transform(sequence(i + 1, size(ids) - 1), j ->
          |    transform(sequence(j + 1, size(ids)), k ->
          |      element_at(ids, i) * 1099511627776L
          |        + element_at(ids, j) * 1048576L
          |        + element_at(ids, k))))))""".stripMargin).as("p"))
        .collect().head.getSeq[Long](0)
      val native = df.select(
          graft.plans.VectorExpressions.packed_triples($"ids").as("p"))
        .collect().head.getSeq[Long](0)
      assert(native === hof, s"diverged on ids=$ids")
    }
    // below the operator's size-3 floor: empty triple set, no error
    Seq(Seq(1L), Seq(1L, 2L)).foreach { ids =>
      val small = Seq(Tuple1(ids)).toDF("ids")
        .select(graft.plans.VectorExpressions.packed_triples($"ids"))
        .collect().head.getSeq[Long](0)
      assert(small.isEmpty)
    }
    // null array → null
    val nullRow = Seq(Tuple1(null.asInstanceOf[Seq[Long]])).toDF("ids")
      .select(graft.plans.VectorExpressions.packed_triples($"ids"))
      .collect().head
    assert(nullRow.isNullAt(0))
  }
}
