package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.syntax._

/** Soundness laws of the summary-table rewrite: it fires only on the
  * exact rollup-derivable shape, refuses every semantics-changing
  * variant, and the rewritten answer equals the fact-table answer for
  * every coarsening of the summary keys.
  */
class SummaryRewriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"
  lazy val mv: String = {
    val p = graft.TempDirs.create("mvspec")
      .toString + "/mv"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"), mvPath = p)
    SummaryRewrite.install(spark)
    p
  }

  private def withSummary[T](body: => T): T = {
    SummaryRewrite.register("spec_mv",
      SummaryRewrite.Summary("documents.parquet", mv, Set("source", "lang")))
    try body finally SummaryRewrite.deregister("spec_mv")
  }

  private def docs: DataFrame =
    graft.Tables.load(spark, dir, "documents")

  private def usesMv(df: DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains("mvspec") && !p.contains("documents.parquet")
  }

  test("fires on every coarsening of the summary keys, with exact results") {
    withSummary {
      val groupings = Seq(Seq("source"), Seq("lang"), Seq("source", "lang"))
      groupings.foreach { g =>
        val q = docs.groupBy(g.map(col): _*)
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
        assert(usesMv(q), s"rewrite did not fire for grouping $g")
        val direct = spark.read.parquet(s"$dir/documents.parquet")
          .groupBy(g.map(col): _*)
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
        // compare against the UNREGISTERED path: deregister inside
        SummaryRewrite.deregister("spec_mv")
        val expect = direct.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_mv",
          SummaryRewrite.Summary("documents.parquet", mv,
            Set("source", "lang")))
        assert(q.collect().map(_.toSeq).toSet === expect, s"grouping $g")
      }
    }
  }

  test("fires on the GLOBAL (no grouping) aggregate — the empty coarsening") {
    withSummary {
      val q = docs.agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
      assert(usesMv(q), "global aggregate did not rewrite")
      val got = q.collect().head
      SummaryRewrite.deregister("spec_mv")
      val direct = docs
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
        .collect().head
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv, Set("source", "lang")))
      assert(got.toSeq === direct.toSeq)
    }
  }

  test("fires under a KEY-ONLY filter, pushed onto the summary scan") {
    withSummary {
      val shapes = Seq(
        docs.filter($"source" === "src1").groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc")),
        // conjunction of key predicates, grouping on the filtered key
        docs.filter($"source" =!= "src1" && $"lang" =!= "de")
          .groupBy($"source").agg(count(lit(1)).as("n")),
        // filter + GLOBAL aggregate (empty coarsening)
        docs.filter($"lang" === "en")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc")))
      shapes.zipWithIndex.foreach { case (q, i) =>
        assert(usesMv(q), s"key-only filtered shape $i did not rewrite")
        SummaryRewrite.deregister("spec_mv")
        val expect = q.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_mv",
          SummaryRewrite.Summary("documents.parquet", mv,
            Set("source", "lang")))
        assert(q.collect().map(_.toSeq).toSet === expect, s"shape $i")
      }
    }
  }

  test("refuses non-key filters, non-key groupings, non-derivable aggregates") {
    withSummary {
      // a NON-KEY filter between scan and aggregate changes the counts
      val filtered = docs.filter($"n_chars" > 100)
        .groupBy($"source").agg(count(lit(1)).as("n"))
      assert(!usesMv(filtered), "non-key-filtered aggregate must not rewrite")
      // a mixed predicate (key AND non-key) is still non-key
      val mixed = docs.filter($"source" === "src1" && $"n_chars" > 100)
        .groupBy($"source").agg(count(lit(1)).as("n"))
      assert(!usesMv(mixed), "mixed-filter aggregate must not rewrite")
      // a nondeterministic key-only filter must not be replayed
      // (rand() < 0.5 — an always-true rand bound would be folded away)
      val nondet = docs.filter($"source" === "src1" && rand() < 0.5)
        .groupBy($"source").agg(count(lit(1)).as("n"))
      assert(!usesMv(nondet), "nondeterministic filter must not rewrite")
      // grouping on a non-key column is not derivable
      val nonKey = docs.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      assert(!usesMv(nonKey), "non-key grouping must not rewrite")
      // avg of a column with NO sum partial in the summary refuses
      // (avg n_chars DOES rewrite — the dedicated law below)
      val avgQ = docs.groupBy($"source").agg(avg($"doc_id").as("a"))
      assert(!usesMv(avgQ), "avg without a sum partial must not rewrite")
      // count(column) skips nulls — a non-key measure with no
      // cnt_<col> partial is not derivable (count over a KEY or a
      // cnt_-carrying measure IS — the null-safe laws below)
      val countCol = docs.groupBy($"source").agg(count($"text").as("n"))
      assert(!usesMv(countCol), "count(non-key col) must not rewrite")
      // sum of a column the summary does not carry
      val sumOther = docs.groupBy($"source")
        .agg(sum(length($"text")).as("n"))
      assert(!usesMv(sumOther), "unknown measure must not rewrite")
    }
  }

  test("exhaustive lattice: every grouping × key-filter × measure-set " +
      "combination fires and is exact") {
    val mmMv = graft.TempDirs.create("mvspec")
      .toString + "/lattice"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = mmMv, minMaxCols = Seq("n_chars"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_lattice",
      SummaryRewrite.Summary("documents.parquet", mmMv,
        Set("source", "lang")))
    try {
      val groupings: Seq[Seq[String]] =
        Seq(Seq("source", "lang"), Seq("source"), Seq("lang"), Seq.empty)
      val filters: Seq[(String, DataFrame => DataFrame)] = Seq(
        ("none", identity[DataFrame] _),
        ("src", (d: DataFrame) => d.filter(col("source") === "src1")),
        ("lang", (d: DataFrame) => d.filter(col("lang") =!= "en")),
        ("both", (d: DataFrame) =>
          d.filter(col("source") =!= "src1" && col("lang") === "en")))
      val measureSets: Seq[Seq[org.apache.spark.sql.Column]] = Seq(
        Seq(count(lit(1)).as("n")),
        Seq(sum(col("n_chars")).as("sc")),
        Seq(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi")),
        Seq(avg(col("n_chars")).as("a"), count(lit(1)).as("n")),
        Seq(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
          avg(col("n_chars")).as("a")),
        // single-distinct-group over a KEY column beside plain aggs
        Seq(countDistinct(col("lang")).as("nd"), count(lit(1)).as("n")))
      var checked = 0
      for (g <- groupings; (fname, f) <- filters; ms <- measureSets) {
        def q = {
          val filtered = f(docs)
          val grouped =
            if (g.isEmpty) filtered.groupBy()
            else filtered.groupBy(g.map(col): _*)
          grouped.agg(ms.head, ms.tail: _*)
        }
        val label = s"group=$g filter=$fname measures=${ms.size}"
        assert(usesMv2(q, "lattice"), s"did not fire: $label")
        SummaryRewrite.deregister("spec_lattice")
        val expect = q.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_lattice",
          SummaryRewrite.Summary("documents.parquet", mmMv,
            Set("source", "lang")))
        assert(q.collect().map(_.toSeq).toSet === expect, s"diverged: $label")
        checked += 1
      }
      assert(checked === groupings.size * filters.size * measureSets.size)
    } finally SummaryRewrite.deregister("spec_lattice")
  }

  private def usesMv2(df: DataFrame, marker: String): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains(marker) && !p.contains("documents.parquet")
  }

  test("deregistration restores the fact scan") {
    withSummary {
      assert(usesMv(docs.groupBy($"source").agg(count(lit(1)).as("n"))))
    }
    val after = docs.groupBy($"source").agg(count(lit(1)).as("n"))
    assert(!usesMv(after))
  }

  test("HAVING and ORDER BY compose above the rewritten aggregate") {
    withSummary {
      val q = docs.groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
        .filter($"n" >= 2)           // HAVING: a Filter ABOVE the agg
        .orderBy($"sc".desc)
      assert(usesMv(q), "HAVING/ORDER BY above the aggregate must not " +
        "block the rewrite (they sit on the substituted subtree's output)")
      SummaryRewrite.deregister("spec_mv")
      // set-compare: ORDER BY ties would make a list-compare flaky
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect)
    }
  }

  test("AVG rewrites as sum-partial over cnt, bit-equal to the fact plan") {
    withSummary {
      val q = docs.groupBy($"source")
        .agg(avg($"n_chars").as("a"), count(lit(1)).as("n"))
      assert(usesMv(q), "avg over a summed measure did not rewrite")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect)
    }
  }

  test("MIN/MAX measures rewrite from min_/max_ summary columns, exactly") {
    val mmMv = graft.TempDirs.create("mvspec")
      .toString + "/mm"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = mmMv, minMaxCols = Seq("n_chars", "doc_id"))
    SummaryRewrite.register("spec_mm",
      SummaryRewrite.Summary("documents.parquet", mmMv,
        Set("source", "lang")))
    try {
      val q = docs.groupBy($"source").agg(
        min($"n_chars").as("lo"), max($"n_chars").as("hi"),
        max($"doc_id").as("last_id"), count(lit(1)).as("n"))
      assert(usesMv(q), "min/max rollup did not rewrite")
      SummaryRewrite.deregister("spec_mm")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mm",
        SummaryRewrite.Summary("documents.parquet", mmMv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect)
      // a min over a column with no min_ partial refuses
      val noPartial = docs.groupBy($"source").agg(min($"text").as("t"))
      assert(!usesMv(noPartial), "min without min_ column must not rewrite")
    } finally SummaryRewrite.deregister("spec_mm")
  }

  test("covering-summary selection: a non-covering first summary never " +
      "captures the query; the covering one fires") {
    // 'a_narrow' sorts FIRST by name and has FEWER keys — it would win
    // every tie-break — but it does not cover a grouping on lang, so
    // the (source, lang) summary must serve that query.
    val narrowMv = graft.TempDirs.create("mvspec")
      .toString + "/narrow"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source"), sumCols = Seq("n_chars"), mvPath = narrowMv)
    SummaryRewrite.register("a_narrow",
      SummaryRewrite.Summary("documents.parquet", narrowMv, Set("source")))
    SummaryRewrite.register("b_wide",
      SummaryRewrite.Summary("documents.parquet", mv, Set("source", "lang")))
    try {
      val byLang = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
      val plan = byLang.queryExecution.executedPlan.toString
      assert(plan.contains("/mv") && !plan.contains("/narrow") &&
        !plan.contains("documents.parquet"),
        "grouping on lang must be served by the covering (source,lang) " +
          s"summary, got:\n$plan")
      // and the smaller summary wins where it DOES cover
      val bySource = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      val plan2 = bySource.queryExecution.executedPlan.toString
      assert(plan2.contains("/narrow"),
        s"source grouping should pick the smaller summary, got:\n$plan2")
      SummaryRewrite.deregister("a_narrow")
      SummaryRewrite.deregister("b_wide")
      val expect = byLang.collect().map(_.toSeq).toSet
      SummaryRewrite.register("b_wide",
        SummaryRewrite.Summary("documents.parquet", mv, Set("source", "lang")))
      assert(byLang.collect().map(_.toSeq).toSet === expect)
    } finally {
      SummaryRewrite.deregister("a_narrow")
      SummaryRewrite.deregister("b_wide")
    }
  }

  test("path match is boundary-anchored: a suffix summary never claims " +
      "a different table") {
    // register a summary for a FAKE fact whose name is a string suffix
    // of documents.parquet's path tail — it must not capture documents
    SummaryRewrite.register("spec_sfx",
      SummaryRewrite.Summary("uments.parquet", mv, Set("source", "lang")))
    try {
      val q = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      assert(!usesMv(q), "suffix-only path match must not fire")
    } finally SummaryRewrite.deregister("spec_sfx")
  }

  test("type mismatch refuses: an int-typed cnt never substitutes") {
    val badMv = graft.TempDirs.create("mvspec")
      .toString + "/bad"
    spark.read.parquet(mv)
      .withColumn("cnt", col("cnt").cast("int"))
      .write.parquet(badMv)
    SummaryRewrite.register("spec_bad",
      SummaryRewrite.Summary("documents.parquet", badMv,
        Set("source", "lang")))
    try {
      val q = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      assert(!usesMv(q), "non-long cnt must refuse the rewrite")
    } finally SummaryRewrite.deregister("spec_bad")
  }

  test("mergeDelta: fold(old, partial(delta)) equals the full rebuild, " +
      "min/max included, and commits the next version") {
    val store = graft.TempDirs.create("mvspec")
      .toString + "/deltastore"
    val fact = spark.read.parquet(s"$dir/documents.parquet")
    val v1 = graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(fact.filter(col("doc_id") % 3 === 0),
        Seq("source", "lang"), Seq("n_chars"), Seq("n_chars")).coalesce(1),
      store)
    val v2 = SummaryRewrite.mergeDelta(spark, store,
      fact.filter(col("doc_id") % 3 =!= 0),
      Seq("source", "lang"), Seq("n_chars"), Seq("n_chars"))
    assert((v1, v2) === ((1L, 2L)))
    val folded = graft.operators.IndexOps.readSnapshot(spark, store)
      .collect().map(_.toSeq).toSet
    val rebuilt = SummaryRewrite.summaryFrame(fact,
      Seq("source", "lang"), Seq("n_chars"), Seq("n_chars"))
      .collect().map(_.toSeq).toSet
    assert(folded === rebuilt)
    // v1 remains readable (pinned) — commits never mutate history
    assert(graft.operators.IndexOps
      .readSnapshot(spark, store, Some(1L)).count() > 0)
  }

  test("star join: aggregate over fact JOIN dim is served from the " +
      "summary, exactly — fact and dim measures") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/orders_by_cust"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq.empty, mvPath = omv,
      minMaxCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_star",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      def q = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("o_orderkey")).as("max_orderkey"), // fact min/max
          min(col("c_custkey")).as("first_cust"))    // dim min/max
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("orders_by_cust") && !p.contains("orders.parquet"),
        s"star rewrite did not fire / fact still scanned:\n$p")
      assert(p.contains("customer.parquet"),
        "the dim side must still be scanned")
      SummaryRewrite.deregister("spec_star")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_star",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect)

      // filtered star variants: a KEY-ONLY fact filter rides the
      // summary, a dim filter stays verbatim on the dim side
      def starF = graft.Tables.load(spark, dir, "orders")
        .filter(col("o_custkey") % 2 === 0)
        .join(graft.Tables.load(spark, dir, "customer")
          .filter(col("c_nationkey") < 10),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      val pf = starF.queryExecution.executedPlan.toString
      assert(pf.contains("orders_by_cust") && !pf.contains("orders.parquet"),
        s"filtered star did not rewrite:\n$pf")
      SummaryRewrite.deregister("spec_star")
      val expectF = starF.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_star",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(starF.collect().map(_.toSeq).toSet === expectF)
      // a MIXED fact×dim grouping expression serves: all fact rows
      // with one key produce the same value for any given dim row,
      // so the collapse is exact for mixed groupings too
      def mixedG = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy((col("c_nationkey") * 100 + col("o_custkey") % 7)
          .as("bucket"))
        .agg(count(lit(1)).as("n"))
      val pmx = mixedG.queryExecution.executedPlan.toString
      assert(pmx.contains("orders_by_cust") && !pmx.contains("orders.parquet"),
        s"mixed fact-key × dim grouping expression did not rewrite:\n$pmx")
      SummaryRewrite.deregister("spec_star")
      val expectMx = mixedG.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_star",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(mixedG.collect().map(_.toSeq).toSet === expectMx)
      // a NON-key fact filter refuses
      val nonKeyF = graft.Tables.load(spark, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(nonKeyF.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "non-key fact filter under the join must refuse")

      // fact-PRESERVED outer join fires and is exact: each summary row
      // null-extends exactly like its cnt fact rows. The dim side is
      // filtered so null-extension is non-vacuous (unmatched keys
      // exist and group under NULL c_nationkey).
      def leftJ = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer")
          .filter(col("c_nationkey") < 5),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"),
          max(col("o_orderkey")).as("hi"))
      val pl = leftJ.queryExecution.executedPlan.toString
      assert(pl.contains("orders_by_cust") && !pl.contains("orders.parquet"),
        s"fact-preserved left-outer star must rewrite:\n$pl")
      SummaryRewrite.deregister("spec_star")
      val expectL = leftJ.collect().map(_.toSeq).toSet
      assert(expectL.exists(_.head == null),
        "left-outer law vacuous: no null-extended group present")
      SummaryRewrite.register("spec_star",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(leftJ.collect().map(_.toSeq).toSet === expectL,
        "left-outer star rewrite diverged")
      // dim-PRESERVED outer join refuses: an unmatched dim row counts
      // 1 under COUNT(*) but its null summary row adds nothing to Σcnt
      val dimLeft = graft.Tables.load(spark, dir, "customer")
        .join(graft.Tables.load(spark, dir, "orders"),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(dimLeft.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "dim-preserved outer join must not rewrite")
      val fullJ = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "full")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(fullJ.queryExecution.executedPlan.toString
        .contains("orders.parquet"), "full outer join must not rewrite")
      val cntDim = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(col("c_name")).as("n"))
      assert(cntDim.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "count over a dim column is multiplicity-sensitive; must refuse")
      val sumDim = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(sum(col("c_custkey")).as("n"))
      assert(sumDim.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "sum over a dim column must refuse")
      val nonKey = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_orderkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(nonKey.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a join on a non-summary-key must refuse")
    } finally SummaryRewrite.deregister("spec_star")
  }

  test("multi-dimension star / snowflake: nested joins peel level by " +
      "level and serve from the summary; non-key links refuse") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/orders_by_cust_md"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq.empty, mvPath = omv,
      minMaxCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_star_md",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    def orders = graft.Tables.load(spark, dir, "orders")
    def customer = graft.Tables.load(spark, dir, "customer")
    def nation = graft.Tables.load(spark, dir, "nation")
    def region = graft.Tables.load(spark, dir, "region")
    try {
      // a 3-level snowflake: the fact joins customer on a summary KEY;
      // customer→nation and nation→region are dim-dim links the
      // rewrite leaves untouched. Only level 1 touches the fact.
      def q = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .join(region, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          max(col("o_orderkey")).as("max_orderkey"), // fact partial
          min(col("n_name")).as("first_nation"))     // dim value-set
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("orders_by_cust_md") &&
        !p.contains("orders.parquet"),
        s"snowflake rewrite did not fire / fact still scanned:\n$p")
      assert(p.contains("customer.parquet") && p.contains("nation.parquet")
        && p.contains("region.parquet"),
        "every dim level must still be scanned")
      SummaryRewrite.deregister("spec_star_md")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_star_md",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "snowflake star rewrite diverged")

      // a dim-LOCAL predicate in the ON clause is a residual conjunct
      // the rewrite carries verbatim
      def qc = orders
        .join(customer, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") < 10)
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      val pc = qc.queryExecution.executedPlan.toString
      assert(pc.contains("orders_by_cust_md") &&
        !pc.contains("orders.parquet"),
        s"dim-local ON-clause conjunct should ride untouched:\n$pc")
      SummaryRewrite.deregister("spec_star_md")
      val expectC = qc.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_star_md",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(qc.collect().map(_.toSeq).toSet === expectC)

      // an OUTER level joining a non-key fact attr refuses the whole
      // rewrite — the dim-match set would not be key-determined
      val badLink = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("o_orderkey") % 25 === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      assert(badLink.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "an outer level touching a non-key fact attr must refuse")

      // a dim-preserved outer level anywhere in the tree refuses
      val dimKept = customer
        .join(orders, col("o_custkey") === col("c_custkey"), "left")
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      assert(dimKept.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a dim-preserved outer join at an inner level must refuse")
    } finally SummaryRewrite.deregister("spec_star_md")
  }

  test("auditSummary: exact summary yields zero rows; a drifted one " +
      "names the broken keys") {
    val fresh = SummaryRewrite.Summary("documents.parquet", mv,
      Set("source", "lang"))
    assert(SummaryRewrite.auditSummary(spark, s"$dir/documents.parquet",
      fresh, Seq("n_chars")).count() === 0L)
    // drift: drop one (source, lang) row and corrupt another's cnt
    val drifted = graft.TempDirs.create("mvspec")
      .toString + "/drifted"
    val rows = spark.read.parquet(mv)
    val firstKey = rows.select(col("source"), col("lang"))
      .orderBy(col("source"), col("lang")).head()
    rows.filter(!(col("source") === firstKey.getString(0) &&
        col("lang") === firstKey.getString(1)))
      .withColumn("cnt",
        col("cnt") + when(col("lang") === "en", 7L).otherwise(0L))
      .write.parquet(drifted)
    val bad = SummaryRewrite.Summary("documents.parquet", drifted,
      Set("source", "lang"))
    val diff = SummaryRewrite.auditSummary(spark, s"$dir/documents.parquet",
      bad, Seq("n_chars")).collect()
    assert(diff.nonEmpty, "drifted summary must surface discrepancies")
    // the dropped key surfaces with a NULL got_cnt (full-outer)
    assert(diff.exists(r => r.getAs[String]("source") == firstKey.getString(0)
      && r.getAs[String]("lang") == firstKey.getString(1)
      && r.isNullAt(r.fieldIndex("got_cnt"))))
    // every corrupted-en row surfaces with got = expect + 7
    assert(diff.exists(r => r.getAs[String]("lang") == "en"
      && !r.isNullAt(r.fieldIndex("got_cnt"))
      && r.getAs[Long]("got_cnt") ==
        r.getAs[Long]("expect_cnt") + 7L))
  }

  test("store-backed registration with NO committed snapshot refuses; " +
      "the fact scan answers") {
    SummaryRewrite.install(spark)
    val store = graft.TempDirs.create("mvspec")
      .toString + "/emptystore"
    SummaryRewrite.registerStore("spec_empty", "documents.parquet",
      store, Set("source", "lang"))
    try {
      val q = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("documents.parquet") && !p.contains("emptystore"),
        s"empty store must fall back to the fact scan:\n$p")
      assert(q.count() > 0)
    } finally SummaryRewrite.deregister("spec_empty")
  }

  test("cached store relation: two rewrites in ONE plan get fresh " +
      "exprIds and stay exact") {
    SummaryRewrite.install(spark)
    val store = graft.TempDirs.create("mvspec")
      .toString + "/cachestore"
    SummaryRewrite.buildSummarySnapshot(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"), store = store)
    SummaryRewrite.registerStore("spec_cache", "documents.parquet",
      store, Set("source", "lang"))
    try {
      def u = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n")).withColumn("lvl", lit(0L))
        .unionByName(docs.agg(count(lit(1)).as("n"))
          .withColumn("source", lit("__all__")).withColumn("lvl", lit(1L))
          .select(col("source"), col("n"), col("lvl")))
      val p = u.queryExecution.executedPlan.toString
      assert(p.contains("snap=1") && !p.contains("documents.parquet"),
        s"both union members should rewrite through the cache:\n$p")
      SummaryRewrite.deregister("spec_cache")
      val expect = u.collect().map(_.toSeq).toSet
      SummaryRewrite.registerStore("spec_cache", "documents.parquet",
        store, Set("source", "lang"))
      assert(u.collect().map(_.toSeq).toSet === expect)
    } finally SummaryRewrite.deregister("spec_cache")
  }

  test("exhaustive star lattice: orientation × filter × grouping × " +
      "measure-set combinations fire and are exact") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/starlattice"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"), mvPath = omv,
      minMaxCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_starlat",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      def cust = graft.Tables.load(spark, dir, "customer")
      val joinCond = col("o_custkey") === col("c_custkey")
      val shapes: Seq[(String, () => DataFrame)] = for {
        (oname, joined) <- Seq[(String, () => DataFrame)](
          ("fact-left", () => orders.join(cust, joinCond)),
          ("fact-right", () => cust.join(orders, joinCond)),
          ("fact-filtered", () =>
            orders.filter(col("o_custkey") % 2 === 0).join(cust, joinCond)),
          ("dim-filtered", () =>
            orders.join(cust.filter(col("c_nationkey") < 12), joinCond)))
        (gname, grouping) <- Seq(
          ("dim", Seq("c_nationkey")),
          ("factkey", Seq("o_custkey")),
          ("both", Seq("c_nationkey", "o_custkey")))
        (mname, ms) <- Seq[(String, Seq[org.apache.spark.sql.Column])](
          ("count", Seq(count(lit(1)).as("n"))),
          ("factminmax", Seq(min(col("o_orderkey")).as("lo"),
            max(col("o_orderkey")).as("hi"))),
          ("dimminmax", Seq(min(col("c_custkey")).as("dlo"),
            count(lit(1)).as("n"))),
          ("sumavg", Seq(sum(col("o_orderkey")).as("s"),
            avg(col("o_orderkey")).as("a"), count(lit(1)).as("n"))))
      } yield (s"$oname/$gname/$mname", () =>
        joined().groupBy(grouping.map(col): _*).agg(ms.head, ms.tail: _*))
      var checked = 0
      shapes.foreach { case (label, mk) =>
        def q = mk()
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("starlattice") && !p.contains("orders.parquet"),
          s"did not fire: $label\n$p")
        assert(p.contains("customer.parquet"), s"dim vanished: $label")
        SummaryRewrite.deregister("spec_starlat")
        val expect = q.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_starlat",
          SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
        assert(q.collect().map(_.toSeq).toSet === expect, s"diverged: $label")
        checked += 1
      }
      assert(checked === 48)
    } finally SummaryRewrite.deregister("spec_starlat")
  }

  test("star join: a dim column whose NAME collides with a summarized " +
      "fact measure refuses SUM/AVG, while dim MIN/MAX still serves") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/collide"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"), mvPath = omv,
      minMaxCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_collide",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      // the dim side carries a column NAMED o_orderkey (value: a dim
      // quantity, NOT the fact measure) — sum_o_orderkey exists in the
      // summary, so a name-only match would silently serve the fact
      // partial for the dim aggregate
      def dim = graft.Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          (col("c_custkey") * 10).as("o_orderkey"))
      val d1 = dim
      val sumDim = graft.Tables.load(spark, dir, "orders")
        .join(d1, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(sum(d1("o_orderkey")).as("s"))
      assert(sumDim.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "SUM over a colliding dim column must refuse the star rewrite")
      val d2 = dim
      val avgDim = graft.Tables.load(spark, dir, "orders")
        .join(d2, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(avg(d2("o_orderkey")).as("a"))
      assert(avgDim.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "AVG over a colliding dim column must refuse the star rewrite")
      // MIN/MAX over the colliding dim column are value-set aggregates:
      // they pass through (dim side intact) and stay exact
      val d3 = dim
      def minDim = graft.Tables.load(spark, dir, "orders")
        .join(d3, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(min(d3("o_orderkey")).as("lo"),
          count(lit(1)).as("n"))
      val p = minDim.queryExecution.executedPlan.toString
      assert(p.contains("/collide") && !p.contains("orders.parquet"),
        s"dim MIN over a colliding name should still serve:\n$p")
      SummaryRewrite.deregister("spec_collide")
      val expect = minDim.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_collide",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(minDim.collect().map(_.toSeq).toSet === expect)
    } finally SummaryRewrite.deregister("spec_collide")
  }

  test("COUNT(DISTINCT key) derives from summary rows; non-key distinct " +
      "refuses; dim-side distinct passes through — all exact") {
    withSummary {
      // direct path: single-distinct-group mix (distinct + plain aggs)
      def q = docs.groupBy($"source").agg(
        countDistinct($"lang").as("n_langs"),
        count(lit(1)).as("n_docs"), sum($"n_chars").as("sc"))
      assert(usesMv(q), "count(distinct key) did not rewrite")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect)
      // two-column distinct tuple over keys also derives
      def q2 = docs.agg(countDistinct($"source", $"lang").as("n_cells"))
      assert(usesMv(q2), "count(distinct k1, k2) did not rewrite")
      SummaryRewrite.deregister("spec_mv")
      val e2 = q2.collect().head.toSeq
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q2.collect().head.toSeq === e2)
      // a NON-key distinct column is not derivable (summary rows
      // collapse doc_ids) — must refuse
      val nonKey = docs.groupBy($"source")
        .agg(countDistinct($"doc_id").as("n"))
      assert(!usesMv(nonKey), "count(distinct non-key) must not rewrite")
      // sum(distinct measure) is not derivable either
      val sumD = docs.groupBy($"source")
        .agg(sum_distinct($"n_chars").as("s"))
      assert(!usesMv(sumD), "sum(distinct measure) must not rewrite")
    }
    // SUM/AVG DISTINCT over a NUMERIC key are value-set aggregates too
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/distkey"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq.empty, mvPath = omv)
    SummaryRewrite.register("spec_distkey",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      def qd = graft.Tables.load(spark, dir, "orders")
        .agg(sum_distinct(col("o_custkey")).as("sk"))
      val p = qd.queryExecution.executedPlan.toString
      assert(p.contains("distkey") && !p.contains("orders.parquet"),
        s"sum(distinct key) did not rewrite:\n$p")
      SummaryRewrite.deregister("spec_distkey")
      val expect = qd.collect().head.toSeq
      SummaryRewrite.register("spec_distkey",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(qd.collect().head.toSeq === expect)
    } finally SummaryRewrite.deregister("spec_distkey")
  }

  test("star join: distinct aggregates over DIM attrs pass through " +
      "(value-set, multiplicity-insensitive) and stay exact") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/stardist"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq.empty, mvPath = omv)
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_stardist",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      // ONE distinct group per query: two or more distinct groups are
      // rewritten to an Expand by RewriteDistinctAggregates before
      // this rule runs, and correctly refuse (the documented limit)
      def qDim = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(
          countDistinct(col("c_mktsegment")).as("n_seg"), // dim distinct
          count(lit(1)).as("n"))
      def qKey = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey")).agg(
          countDistinct(col("o_custkey")).as("n_cust"),   // fact KEY distinct
          count(lit(1)).as("n"))
      Seq(("dim", () => qDim), ("key", () => qKey)).foreach {
        case (label, mk) =>
          def q = mk()
          val p = q.queryExecution.executedPlan.toString
          assert(p.contains("stardist") && !p.contains("orders.parquet"),
            s"distinct-over-$label star did not rewrite:\n$p")
          SummaryRewrite.deregister("spec_stardist")
          val expect = q.collect().map(_.toSeq).toSet
          SummaryRewrite.register("spec_stardist",
            SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
          assert(q.collect().map(_.toSeq).toSet === expect,
            s"distinct-over-$label diverged")
      }
    } finally SummaryRewrite.deregister("spec_stardist")
  }

  test("grouping-EXPRESSION coarsening: GROUP BY f(keys) rewrites for " +
      "deterministic f, exactly; non-key expressions refuse") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/coarsen"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"), mvPath = omv,
      minMaxCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_coarsen",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      // the HEALPix-parent shape: bucket = key >> k (astrometry.py:
      // 211-224 — parent cell = id >> 2), here an arithmetic div
      val shapes: Seq[(String, () => DataFrame)] = Seq(
        ("div", () => orders.groupBy(expr("o_custkey div 100").as("b"))
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("s"))),
        ("shift", () => orders
          .groupBy(expr("shiftright(o_custkey, 2)").as("b"))
          .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("lo"))),
        ("mod+filter", () => orders.filter(col("o_custkey") % 2 === 0)
          .groupBy((col("o_custkey") % 10).as("b"))
          .agg(count(lit(1)).as("n"), avg(col("o_orderkey")).as("a"))),
        ("two-exprs", () => orders
          .groupBy(expr("o_custkey div 100").as("hi"),
            (col("o_custkey") % 100).as("lo"))
          .agg(count(lit(1)).as("n"))))
      shapes.foreach { case (label, mk) =>
        def q = mk()
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("/coarsen") && !p.contains("orders.parquet"),
          s"expression grouping did not fire: $label\n$p")
        SummaryRewrite.deregister("spec_coarsen")
        val expect = q.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_coarsen",
          SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"expression grouping diverged: $label")
      }
      // an expression over a NON-key column is not a coarsening
      val nonKey = orders.groupBy(expr("o_orderkey div 100").as("b"))
        .agg(count(lit(1)).as("n"))
      assert(nonKey.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "f(non-key) grouping must not rewrite")
      // a nondeterministic grouping expression must not be replayed
      val nondet = orders.groupBy((col("o_custkey") + rand()).as("b"))
        .agg(count(lit(1)).as("n"))
      assert(nondet.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "nondeterministic grouping must not rewrite")
    } finally SummaryRewrite.deregister("spec_coarsen")
  }

  test("catalog: publish → clear → load restores registrations across " +
      "a fresh registry; dead artifacts refuse cleanly; newest wins") {
    SummaryRewrite.install(spark)
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val catDir = s"$tmp/catalog"
    val store = s"$tmp/catstore"
    SummaryRewrite.buildSummarySnapshot(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"), store = store)
    // v1: a catalog pointing at a DEAD fixed path (simulates an
    // artifact deleted after publish) plus the live store entry
    val v1 = SummaryRewrite.publishCatalog(spark, catDir, Map(
      "cat_dead" -> SummaryRewrite.Summary("documents.parquet",
        s"$tmp/never-written", Set("source")),
      "cat_live" -> SummaryRewrite.Summary("documents.parquet", "",
        Set("source", "lang"), Some(store))))
    assert(v1 === 1L)
    // the consumer-side shape: a FRESH registry (new process simulated
    // by clear()) + one install(catalogDir) call
    SummaryRewrite.clear()
    val n = SummaryRewrite.install(spark, catDir)
    assert(n === 2, s"expected 2 catalog entries registered, got $n")
    try {
      // grouping on source: the dead entry (fewer keys) wins the
      // tie-break but its artifact is unreadable — the rule must fall
      // through to the live store entry, never throw
      def q = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("snap=1") && !p.contains("documents.parquet"),
        s"catalog-loaded store entry must serve after the dead one " +
          s"refuses:\n$p")
      SummaryRewrite.clear()
      val expect = docs.groupBy($"source").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet
      SummaryRewrite.install(spark, catDir)
      assert(q.collect().map(_.toSeq).toSet === expect)
      // a second publish is a NEW immutable version; newest wins
      val v2 = SummaryRewrite.publishCatalog(spark, catDir, Map(
        "cat_live" -> SummaryRewrite.Summary("documents.parquet", "",
          Set("source", "lang"), Some(store))))
      assert(v2 === 2L)
      SummaryRewrite.clear()
      assert(SummaryRewrite.install(spark, catDir) === 1)
      // an empty catalog dir registers nothing and does not throw
      SummaryRewrite.clear()
      assert(SummaryRewrite.install(spark, s"$tmp/no-such-catalog") === 0)
    } finally SummaryRewrite.clear()
  }

  test("catalog JSON roundtrips names and paths with quotes and " +
      "backslashes") {
    val entries = Map(
      "q\"uoted" -> SummaryRewrite.Summary("a\\b.parquet",
        "/tmp/x\"y", Set("k1", "k2")),
      "plain" -> SummaryRewrite.Summary("t.parquet", "", Set("k"),
        Some("/tmp/st")))
    val tmp = graft.TempDirs.create("mvspec")
      .toString + "/jsoncat"
    SummaryRewrite.publishCatalog(spark, tmp, entries)
    SummaryRewrite.clear()
    try {
      assert(SummaryRewrite.loadCatalog(spark, tmp) === 2)
    } finally SummaryRewrite.clear()
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/cat=1.json")), "UTF-8")
    val parsed = SummaryRewrite.parseCatalog(raw).toMap
    assert(parsed === entries)
  }

  test("mergeDelta refuses a retraction (non-positive cnt) snapshot " +
      "instead of folding min/max silently wrong") {
    val store = graft.TempDirs.create("mvspec")
      .toString + "/retrstore"
    val fact = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(fact, Seq("source"), Seq("n_chars"),
        Seq("n_chars"))
        .withColumn("cnt",
          when(col("source") === "src1", lit(-2L)).otherwise(col("cnt")))
        .coalesce(1),
      store)
    val ex = intercept[IllegalArgumentException] {
      SummaryRewrite.mergeDelta(spark, store, fact.limit(10),
        Seq("source"), Seq("n_chars"), Seq("n_chars"))
    }
    assert(ex.getMessage.contains("retraction"))
  }

  test("auditSummary covers min_/max_ partials: a min-only drift is " +
      "caught with minMaxCols and provably invisible without") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val good = s"$tmp/mmaudit"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = good, minMaxCols = Seq("n_chars"))
    val summary0 = SummaryRewrite.Summary("documents.parquet", good,
      Set("source", "lang"))
    assert(SummaryRewrite.auditSummary(spark, s"$dir/documents.parquet",
      summary0, Seq("n_chars"), Seq("n_chars")).count() === 0L)
    // drift ONLY a min_ partial — cnt and sum_ stay exact
    val drifted = s"$tmp/mmdrift"
    spark.read.parquet(good)
      .withColumn("min_n_chars",
        when(col("lang") === "en", col("min_n_chars") - 1)
          .otherwise(col("min_n_chars")))
      .write.parquet(drifted)
    val bad = SummaryRewrite.Summary("documents.parquet", drifted,
      Set("source", "lang"))
    val caught = SummaryRewrite.auditSummary(spark,
      s"$dir/documents.parquet", bad, Seq("n_chars"), Seq("n_chars"))
      .collect()
    assert(caught.nonEmpty && caught.forall(
      _.getAs[String]("lang") == "en"),
      "min-only drift must surface exactly the drifted keys")
    // the OLD audit scope (cnt + sum_ only) cannot see it — the law
    // that documents why minMaxCols must be passed
    assert(SummaryRewrite.auditSummary(spark, s"$dir/documents.parquet",
      bad, Seq("n_chars")).count() === 0L)
  }

  test("DSv2 fact: a summary over the FITS source's DataSourceV2Relation " +
      "serves the aggregate; the FITS scan disappears") {
    SummaryRewrite.install(spark)
    // synthetic spectra over two plates; the path ends in the fact suffix
    val specDir = graft.TempDirs.create("dsv2-fact")
      .resolve("galaxy_small").resolve("spectra").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(specDir))
    val (loglam, flux, ivar) = graft.pipeline.FitsFixtures.specGrid()
    for ((plate, k) <- Seq(411, 411, 412, 412, 412).zipWithIndex)
      graft.pipeline.FitsFixtures.writeSpectrum(
        f"$specDir/spec-$plate%04d-${51800 + k}-${k + 1}%04d.fits",
        46.55 + 0.01 * k, -0.34, plate, 51800 + k, k + 1, loglam, flux, ivar)
    def fits = spark.read
      .format("graft.sources.fits.FitsDataSource").load(specDir)
    val mvP = graft.TempDirs.create("mvspec")
      .toString + "/fitsmv"
    SummaryRewrite.summaryFrame(fits, Seq("plateid"), Seq("mjd"))
      .coalesce(1).write.parquet(mvP)
    SummaryRewrite.register("spec_dsv2",
      SummaryRewrite.Summary("galaxy_small/spectra", mvP, Set("plateid")))
    try {
      def q = fits.groupBy(col("plateid"))
        .agg(count(lit(1)).as("n"), sum(col("mjd")).as("sm"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("fitsmv") && !p.contains("graft.fits"),
        s"DSv2 fact did not rewrite / FITS still scanned:\n$p")
      SummaryRewrite.deregister("spec_dsv2")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_dsv2",
        SummaryRewrite.Summary("galaxy_small/spectra", mvP, Set("plateid")))
      assert(q.collect().map(_.toSeq).toSet === expect)
    } finally SummaryRewrite.deregister("spec_dsv2")
  }

  test("NATIVE rollup/cube/grouping-sets (Expand) rewrite: every lattice " +
      "shape fires and is exact; non-derivable shapes refuse") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/expandmv"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = omv, minMaxCols = Seq("n_chars"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_expand",
      SummaryRewrite.Summary("documents.parquet", omv,
        Set("source", "lang")))
    try {
      val shapes: Seq[(String, () => DataFrame)] = Seq(
        ("rollup", () => docs.rollup($"source", $"lang")
          .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
            sum($"n_chars").as("sc"))),
        ("cube", () => docs.cube($"source", $"lang")
          .agg(count(lit(1)).as("n"), min($"n_chars").as("lo"),
            max($"n_chars").as("hi"))),
        ("rollup+avg", () => docs.rollup($"source")
          .agg(avg($"n_chars").as("a"), count(lit(1)).as("n"))),
        ("filtered rollup", () => docs.filter($"source" =!= "src1")
          .rollup($"source", $"lang").agg(count(lit(1)).as("n"))),
        ("sum+min same measure", () => docs.rollup($"lang")
          .agg(sum($"n_chars").as("sc"), min($"n_chars").as("lo"))),
        // COUNT(DISTINCT key) per grouping set: the key rides along as
        // a pass-through and the distinct set per set is the summary's
        ("distinct key", () => docs.rollup($"source")
          .agg(countDistinct($"lang").as("nd"), count(lit(1)).as("n"))))
      shapes.foreach { case (label, mk) =>
        def q = mk()
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("expandmv") && !p.contains("documents.parquet"),
          s"Expand rewrite did not fire: $label\n$p")
        assert(p.contains("Expand"), s"Expand vanished: $label")
        SummaryRewrite.deregister("spec_expand")
        val expect = q.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_expand",
          SummaryRewrite.Summary("documents.parquet", omv,
            Set("source", "lang")))
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"Expand rewrite diverged: $label")
      }
      // refusals: a non-key rollup column; an unknown measure; a
      // distinct aggregate under the Expand; a non-key filter below
      val nonKey = docs.rollup($"source", $"doc_id")
        .agg(count(lit(1)).as("n"))
      assert(nonKey.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "rollup over a non-key column must refuse")
      val unknownMeasure = docs.rollup($"source")
        .agg(sum(length($"text")).as("s"))
      assert(unknownMeasure.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "rollup with an unknown measure must refuse")
      val distinctAgg = docs.rollup($"source")
        .agg(countDistinct($"doc_id").as("n"))
      assert(distinctAgg.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "distinct aggregate under Expand must refuse")
      val nonKeyFilter = docs.filter($"n_chars" > 100).rollup($"source")
        .agg(count(lit(1)).as("n"))
      assert(nonKeyFilter.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "non-key filter below the Expand must refuse")
    } finally SummaryRewrite.deregister("spec_expand")
  }

  test("rollupSummary: every coarsening derived from the finer summary " +
      "equals the from-scratch fact build, min/max included") {
    val fact = spark.read.parquet(s"$dir/documents.parquet")
    val fine = SummaryRewrite.summaryFrame(fact, Seq("source", "lang"),
      Seq("n_chars"), Seq("n_chars"))
    Seq(Seq("source"), Seq("lang"), Seq.empty).foreach { coarser =>
      val derived = SummaryRewrite.rollupSummary(fine, coarser,
        Seq("n_chars"), Seq("n_chars")).collect().map(_.toSeq).toSet
      val scratch = SummaryRewrite.summaryFrame(fact, coarser,
        Seq("n_chars"), Seq("n_chars")).collect().map(_.toSeq).toSet
      assert(derived === scratch, s"lattice derivation diverged: $coarser")
    }
  }

  test("star join: a filter written ABOVE the join still rewrites — " +
      "Catalyst pushes it to the sides before the rule runs") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/abovefilter"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq.empty, mvPath = omv)
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_above",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      // the user-written shape: join first, one mixed WHERE after —
      // the dim conjunct must land on the dim side, the fact-KEY
      // conjunct must ride the summary scan
      def q = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("c_nationkey") < 12 && col("o_custkey") % 2 === 0)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("abovefilter") && !p.contains("orders.parquet"),
        s"above-join mixed filter did not rewrite:\n$p")
      SummaryRewrite.deregister("spec_above")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_above",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect)
      // a fact NON-key conjunct above the join still refuses after
      // pushdown (it lands on the fact side below the join)
      val nonKey = graft.Tables.load(spark, dir, "orders")
        .join(graft.Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .filter(col("o_orderkey") % 2 === 0)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
      assert(nonKey.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "non-key fact filter above the join must refuse")
    } finally SummaryRewrite.deregister("spec_above")
  }

  test("explainServing names the serving summary, the failing guard, " +
      "and uncovered candidates — from the rule's own trace") {
    withSummary {
      // served: the trace names the summary and the artifact
      val served = SummaryRewrite.explainServing(
        docs.groupBy($"source").agg(count(lit(1)).as("n")))
      assert(served.exists(l => l.contains("SERVED") &&
        l.contains("spec_mv")), s"missing served line: $served")
      // non-derivable measure: the trace names the OUTPUT column
      val refused = SummaryRewrite.explainServing(
        docs.groupBy($"source").agg(sum(length($"text")).as("weird")))
      assert(refused.exists(l => l.contains("spec_mv") &&
        l.contains("'weird'") && l.contains("not derivable")),
        s"missing refusal reason: $refused")
      // uncovered grouping: the candidate is reported with its keys
      val uncovered = SummaryRewrite.explainServing(
        docs.groupBy($"doc_id").agg(count(lit(1)).as("n")))
      assert(uncovered.exists(l => l.contains("spec_mv") &&
        l.contains("do not cover")), s"missing coverage line: $uncovered")
    }
    // no registrations at all: wrong-path note or empty-trace message
    val bare = SummaryRewrite.explainServing(
      docs.groupBy($"source").agg(count(lit(1)).as("n")))
    assert(bare.nonEmpty)
  }

  test("auditCatalog sweeps every entry: ok / drift / missing " +
      "statuses from one call") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val factRoot = dir
    val good = s"$tmp/sweep_good"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = good, minMaxCols = Seq("n_chars"))
    val drifted = s"$tmp/sweep_drift"
    spark.read.parquet(good)
      .withColumn("max_n_chars",
        when(col("lang") === "en", col("max_n_chars") + 3)
          .otherwise(col("max_n_chars")))
      .write.parquet(drifted)
    val catDir = s"$tmp/sweep_catalog"
    SummaryRewrite.publishCatalog(spark, catDir, Map(
      "s_ok" -> SummaryRewrite.Summary("documents.parquet", good,
        Set("source", "lang")),
      "s_drift" -> SummaryRewrite.Summary("documents.parquet", drifted,
        Set("source", "lang")),
      "s_missing" -> SummaryRewrite.Summary("documents.parquet",
        s"$tmp/nowhere", Set("source"))))
    val report = SummaryRewrite.auditCatalog(spark, catDir, factRoot)
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(report("s_ok") === ((0L, "ok")))
    assert(report("s_drift")._2 === "drift" && report("s_drift")._1 > 0L,
      s"max_ drift not caught: $report")
    assert(report("s_missing") === ((-1L, "missing")))
    // empty catalog dir: empty report, no throw
    assert(SummaryRewrite.auditCatalog(spark, s"$tmp/no-cat", factRoot)
      .isEmpty)
  }

  test("alias shadowing refuses: a computed column RENAMED to a " +
      "summarized measure's name never serves the real partial") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/shadow"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"), mvPath = omv,
      minMaxCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_shadow",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      // DIRECT path: sum over a computed column renamed to o_orderkey
      // — the inline resolves it to the computing EXPRESSION, so the
      // real sum_o_orderkey partial can never be claimed; since the
      // expression is over KEYS it now derives as Σ cnt·f — the
      // VALUE equality below is the real shadowing gate (a plan that
      // served the stale partial would diverge)
      def direct = orders
        .select($"o_custkey", ($"o_custkey" * 7).as("o_orderkey"))
        .groupBy($"o_custkey").agg(sum($"o_orderkey").as("s"))
      val pd = direct.queryExecution.executedPlan.toString
      assert(pd.contains("/shadow") && !pd.contains("orders.parquet"),
        s"key-expression shadow should serve via cnt-weighted f:\n$pd")
      SummaryRewrite.deregister("spec_shadow")
      val expectD = direct.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_shadow",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(direct.collect().map(_.toSeq).toSet === expectD,
        "computed-column values diverged — the stale partial leaked")
      // and the honest RENAME still serves (inline resolves to the
      // true base column)
      def renamed = orders
        .select($"o_custkey", $"o_orderkey".as("ok2"))
        .groupBy($"o_custkey").agg(sum($"ok2").as("s"))
      // renamed column's partial is keyed by the BASE name, so the
      // direct path derives sum(ok2) from sum_o_orderkey
      val pr = renamed.queryExecution.executedPlan.toString
      assert(pr.contains("/shadow") && !pr.contains("orders.parquet"),
        s"honest rename should still serve from the base partial:\n$pr")
      SummaryRewrite.deregister("spec_shadow")
      val expectR = renamed.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_shadow",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(renamed.collect().map(_.toSeq).toSet === expectR)
      // JOIN path: fact-side computed column aliased to the measure
      // name — peel() strips the fact-leaf Project and INLINES the
      // alias, so the reference resolves to the computing expression
      // (o_custkey*7, a key expression served as Σ cnt·f), never the
      // stale sum_o_orderkey partial by name. The VALUE equality
      // against the deregistered plan is the shadowing gate.
      def joined = orders
        .select($"o_custkey", ($"o_custkey" * 7).as("o_orderkey"))
        .join(graft.Tables.load(spark, dir, "customer"),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey").agg(sum($"o_orderkey").as("s"))
      val pj = joined.queryExecution.executedPlan.toString
      assert(pj.contains("/shadow") && !pj.contains("orders.parquet"),
        s"join-path key-expression shadow should serve via cnt-weighted f:\n$pj")
      SummaryRewrite.deregister("spec_shadow")
      val expectJ = joined.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_shadow",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(joined.collect().map(_.toSeq).toSet === expectJ,
        "join-path computed-column values diverged — the stale partial leaked")
      // EXPAND path: rollup over the shadowing computed measure
      val rolled = orders
        .select($"o_custkey", ($"o_custkey" * 7).as("o_orderkey"))
        .rollup($"o_custkey").agg(sum($"o_orderkey").as("s"))
      assert(rolled.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "expand path must refuse a shadowing computed measure")
      // EXPAND path: the honest rename serves via the base partial
      def rolledRename = orders
        .select($"o_custkey", $"o_orderkey".as("ok2"))
        .rollup($"o_custkey").agg(sum($"ok2").as("s"),
          count(lit(1)).as("n"))
      val prr = rolledRename.queryExecution.executedPlan.toString
      assert(prr.contains("/shadow") && !prr.contains("orders.parquet"),
        s"expand path should serve the renamed measure:\n$prr")
      SummaryRewrite.deregister("spec_shadow")
      val expectRR = rolledRename.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_shadow",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(rolledRename.collect().map(_.toSeq).toSet === expectRR)
    } finally SummaryRewrite.deregister("spec_shadow")
  }

  test("snapshot-store summary: registration survives rebuilds and " +
      "sessions; newest commit is read") {
    SummaryRewrite.install(spark) // standalone-run safe (mv is lazy)
    val store = graft.TempDirs.create("mvspec")
      .toString + "/mvstore"
    val v1 = SummaryRewrite.buildSummarySnapshot(spark,
      s"$dir/documents.parquet", keys = Seq("source", "lang"),
      sumCols = Seq("n_chars"), store = store)
    assert(v1 === 1L)
    SummaryRewrite.registerStore("spec_store", "documents.parquet",
      store, Set("source", "lang"))
    try {
      // def, not val: queryExecution memoizes per DataFrame, and the
      // point here is that a FRESH query resolves the newest commit
      def q = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      val p1 = q.queryExecution.executedPlan.toString
      assert(p1.contains("snap=1") && !p1.contains("documents.parquet"),
        s"store-backed rewrite should read snap=1, got:\n$p1")
      // a second commit is picked up WITHOUT re-registration
      val v2 = SummaryRewrite.buildSummarySnapshot(spark,
        s"$dir/documents.parquet", keys = Seq("source", "lang"),
        sumCols = Seq("n_chars"), store = store)
      assert(v2 === 2L)
      val p2 = q.queryExecution.executedPlan.toString
      assert(p2.contains("snap=2"), s"newest commit must win, got:\n$p2")
      // cross-session: a FRESH session state (new experimental-rule
      // list) installs the rule and reads the store written above —
      // the artifact + registration outlive the writing session's state
      val s2 = spark.newSession()
      SummaryRewrite.install(s2)
      val q2 = graft.Tables.load(s2, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val p3 = q2.queryExecution.executedPlan.toString
      assert(p3.contains("snap=2") && !p3.contains("documents.parquet"),
        s"fresh session must serve from the committed store, got:\n$p3")
      SummaryRewrite.deregister("spec_store")
      val expect = docs.groupBy($"source").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet
      SummaryRewrite.registerStore("spec_store", "documents.parquet",
        store, Set("source", "lang"))
      assert(q.collect().map(_.toSeq).toSet === expect)
    } finally SummaryRewrite.deregister("spec_store")
  }

  test("catalog JSON roundtrips HOSTILE key names (commas, quotes, " +
      "backslashes) and the table field exactly") {
    val entries = Map(
      "hostile" -> SummaryRewrite.Summary("t.parquet", "/tmp/m",
        // control characters (newline/tab — legal in Spark column
        // names via backticks) must roundtrip EXACTLY: jstr writes
        // them \uXXXX and junstr must decode them back, not hand the
        // registration the literal 6-char text "	". A literal
        // backslash-u text key must survive too (escaping order).
        Set("a,b", "a\"b", "a\\b", "plain", "a\nb", "a\tb", "a\\u0041b")),
      "tabled" -> SummaryRewrite.Summary("", "/tmp/m2", Set("k"),
        table = Some("my_catalog.db.orders")))
    val tmp = graft.TempDirs.create("mvspec")
      .toString + "/hostilecat"
    SummaryRewrite.publishCatalog(spark, tmp, entries)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tmp/cat=1.json")), "UTF-8")
    val parsed = SummaryRewrite.parseCatalog(raw).toMap
    assert(parsed === entries,
      "a key named a,b / a\"b / a\\b must parse back as ONE key — " +
        "comma-splitting or unapplied unescaping corrupts registrations")
    // braces/brackets stay unrepresentable and refuse at WRITE time
    val ex = intercept[IllegalArgumentException] {
      SummaryRewrite.publishCatalog(spark, tmp, Map(
        "bad" -> SummaryRewrite.Summary("t.parquet", "/tmp/m",
          Set("a[b"))))
    }
    assert(ex.getMessage.contains("not representable"))
  }

  test("size-aware layout: dashboard-shape summaries land as ONE file; " +
      "a high-cardinality summary is multi-file and still serves exactly") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    def nFiles(p: String): Int = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    // kilobyte summary: AQE coalesces the ranged write to one file
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/one_file")
    assert(nFiles(s"$tmp/one_file") === 1,
      "a kilobyte summary must not shatter into many tiny files")
    // high-cardinality summary under tiny AQE targets: multi-file
    val big = s"$tmp/ranged_by_cust"
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2048")
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1024")
    try SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"), mvPath = big)
    finally {
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }
    assert(nFiles(big) > 1, "the high-cardinality artifact must split — " +
      "a per-key summary of a 100 TB fact cannot build through one task")
    // the rewrite is layout-agnostic: the multi-file artifact serves,
    // plan-provably and exactly
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_ranged",
      SummaryRewrite.Summary("orders.parquet", big, Set("o_custkey")))
    try {
      def q = graft.Tables.load(spark, dir, "orders")
        .groupBy(expr("o_custkey % 10").as("b"))
        .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("so"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("ranged_by_cust") && !p.contains("orders.parquet"),
        s"multi-file summary did not serve:\n$p")
      SummaryRewrite.deregister("spec_ranged")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_ranged",
        SummaryRewrite.Summary("orders.parquet", big, Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect)
      // a KEY-filtered read of the multi-file artifact pushes the
      // predicate into the parquet scan — with the key-ranged,
      // key-sorted layout that is file AND row-group skipping
      val filtered = graft.Tables.load(spark, dir, "orders")
        .filter(col("o_custkey") === 7L)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      val pf = filtered.queryExecution.executedPlan.toString
      assert(pf.contains("ranged_by_cust") &&
        pf.contains("PushedFilters") && pf.contains("EqualTo(o_custkey,7)"),
        s"key filter not pushed into the ranged artifact scan:\n$pf")
    } finally SummaryRewrite.deregister("spec_ranged")
  }

  test("SUM over a floating-point measure refuses (re-associated float " +
      "adds are not the fact's bits); min/max/count still serve") {
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/dblsum"
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_totalprice"), mvPath = omv,
      minMaxCols = Seq("o_totalprice"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_dblsum",
      SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      // direct path: the double sum_ partial must refuse
      val sumQ = orders.groupBy($"o_custkey")
        .agg(sum($"o_totalprice").as("s"))
      assert(sumQ.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "SUM over a Double measure must refuse — ulp reassociation")
      // expand path: same refusal under ROLLUP
      val rolled = orders.rollup($"o_custkey")
        .agg(sum($"o_totalprice").as("s"))
      assert(rolled.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "Expand-path SUM over a Double measure must refuse")
      // the SAME artifact serves the order-insensitive derivations
      def okQ = orders.groupBy($"o_custkey")
        .agg(count(lit(1)).as("n"), min($"o_totalprice").as("lo"),
          max($"o_totalprice").as("hi"))
      val p = okQ.queryExecution.executedPlan.toString
      assert(p.contains("dblsum") && !p.contains("orders.parquet"),
        s"min/max/count over the double measure should still serve:\n$p")
      SummaryRewrite.deregister("spec_dblsum")
      val expect = okQ.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_dblsum",
        SummaryRewrite.Summary("orders.parquet", omv, Set("o_custkey")))
      assert(okQ.collect().map(_.toSeq).toSet === expect)
    } finally SummaryRewrite.deregister("spec_dblsum")
  }

  test("table-identity fact: a spark.table read serves from a summary " +
      "registered by TABLE name; a different table refuses") {
    SummaryRewrite.install(spark)
    val omv = graft.TempDirs.create("mvspec")
      .toString + "/tblmv"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"), mvPath = omv)
    // two catalog tables over DIFFERENT data
    spark.sql("DROP TABLE IF EXISTS spec_docs_tbl")
    spark.sql("DROP TABLE IF EXISTS spec_orders_tbl")
    spark.sql(s"CREATE TABLE spec_docs_tbl USING parquet " +
      s"LOCATION '$dir/documents.parquet'")
    spark.sql(s"CREATE TABLE spec_orders_tbl USING parquet " +
      s"LOCATION '$dir/orders.parquet'")
    // registered by table name ONLY — empty factPathSuffix disables the
    // path match, so serving can only come from the identifier
    SummaryRewrite.register("spec_tbl", SummaryRewrite.Summary(
      "", omv, Set("source", "lang"), table = Some("SPEC_docs_tbl")))
    try {
      def q = spark.table("spec_docs_tbl").groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("tblmv") && !p.contains("documents.parquet"),
        s"table-identified fact did not serve (case-insensitive):\n$p")
      SummaryRewrite.deregister("spec_tbl")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_tbl", SummaryRewrite.Summary(
        "", omv, Set("source", "lang"), table = Some("SPEC_docs_tbl")))
      assert(q.collect().map(_.toSeq).toSet === expect)
      // a DIFFERENT table never matches a table registration — exact
      // name equality, no suffixing (and the empty path suffix must not
      // accidentally match either)
      val other = spark.table("spec_orders_tbl")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      assert(other.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a different table must not be claimed by the registration")
    } finally {
      SummaryRewrite.deregister("spec_tbl")
      spark.sql("DROP TABLE IF EXISTS spec_docs_tbl")
      spark.sql("DROP TABLE IF EXISTS spec_orders_tbl")
    }
  }

  test("bound-catalog freshness: a deregistration published in cat=N+1 " +
      "stops serving without re-install") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val catDir = s"$tmp/freshcat"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/freshmv")
    SummaryRewrite.publishCatalog(spark, catDir, Map(
      "fresh_docs" -> SummaryRewrite.Summary("documents.parquet",
        s"$tmp/freshmv", Set("source", "lang"))))
    SummaryRewrite.clear()
    assert(SummaryRewrite.install(spark, catDir) === 1)
    try {
      def q = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      assert(q.queryExecution.executedPlan.toString.contains("freshmv"),
        "the cat=1 entry should serve")
      // the producer publishes an EMPTY cat=2: every catalog-owned
      // registration must stop serving on the consumer's next query
      SummaryRewrite.publishCatalog(spark, catDir,
        Map.empty[String, SummaryRewrite.Summary])
      val p2 = q.queryExecution.executedPlan.toString
      assert(!p2.contains("freshmv") && p2.contains("documents.parquet"),
        s"a published deregistration must stop serving:\n$p2")
    } finally SummaryRewrite.clear()
  }

  test("multiple distinct aggregates over keys serve through the " +
      "RewriteDistinctAggregates Expand; a non-key distinct refuses") {
    withSummary {
      // three distinct groups -> Expand with three projections; all
      // positions keys or the gid literal -> the inner distinct
      // aggregate rewrites onto the summary
      def q = docs.groupBy($"source")
        .agg(countDistinct($"lang").as("nl"),
          countDistinct($"lang", $"source").as("nls"))
      val p = q.queryExecution.executedPlan.toString
      assert(usesMv(q), s"multi-distinct over keys did not serve:\n$p")
      assert(p.contains("Expand"), "not the multi-distinct Expand shape")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect)
      // global variant (the q272 shape)
      def g = docs.agg(countDistinct($"source").as("ns"),
        countDistinct($"lang").as("nl"),
        countDistinct($"source", $"lang").as("np"))
      assert(usesMv(g), "global multi-distinct did not serve")
      SummaryRewrite.deregister("spec_mv")
      val expectG = g.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(g.collect().map(_.toSeq).toSet === expectG)
      // one non-key distinct group poisons nothing — it refuses
      val bad = docs.groupBy($"source")
        .agg(countDistinct($"lang").as("nl"),
          countDistinct($"doc_id").as("nd"))
      assert(!usesMv(bad),
        "a non-key distinct column must refuse the whole rewrite")
    }
  }

  test("NULL-safe derivations: avg/count(col) over a measure WITH nulls " +
      "serve exactly via cnt_<col>; an artifact without it refuses") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val factPath = s"$tmp/nullfact.parquet"
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"),
        when(col("doc_id") % 3 === 0, lit(null))
          .otherwise(col("n_chars")).as("n_chars"))
      .write.parquet(factPath)
    val fact = spark.read.parquet(factPath)
    assert(fact.filter(col("n_chars").isNull).count() > 0,
      "precondition: the fact must actually have NULL measures")
    val omv = s"$tmp/nullmv"
    SummaryRewrite.buildSummary(spark, factPath,
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"), mvPath = omv)
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_nulls",
      SummaryRewrite.Summary("nullfact.parquet", omv, Set("source", "lang")))
    try {
      def q = fact.groupBy($"source")
        .agg(avg($"n_chars").as("a"), count($"n_chars").as("cv"),
          count(lit(1)).as("n"), sum($"n_chars").as("sc"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("nullmv") && !p.contains("nullfact.parquet"),
        s"null-measure avg/count(col) did not serve:\n$p")
      SummaryRewrite.deregister("spec_nulls")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_nulls",
        SummaryRewrite.Summary("nullfact.parquet", omv,
          Set("source", "lang")))
      val got = q.collect().map(_.toSeq).toSet
      assert(got === expect,
        "avg/count over a NULLABLE measure diverged — the Σcnt_x " +
          "(non-null count) partial is load-bearing")
      // the distinction is exercised: some group's count(col) < count(*)
      assert(expect.exists(r => r(2) != r(1)),
        "law is vacuous: no group has NULL measures")
      // a pre-cnt_ artifact (sum/cnt only) must REFUSE avg and
      // count(col) — deriving avg from the row count would be wrong —
      // while count(*)/sum still serve from it
      val legacy = s"$tmp/legacymv"
      spark.read.parquet(omv)
        .drop("cnt_n_chars").write.parquet(legacy)
      SummaryRewrite.register("spec_nulls",
        SummaryRewrite.Summary("nullfact.parquet", legacy,
          Set("source", "lang")))
      val avgQ = fact.groupBy($"source").agg(avg($"n_chars").as("a"))
      assert(avgQ.queryExecution.executedPlan.toString
        .contains("nullfact.parquet"),
        "avg over a cnt_-less artifact must refuse (Σcnt is the row " +
          "count, not the non-null count)")
      val cntQ = fact.groupBy($"source").agg(count($"n_chars").as("cv"))
      assert(cntQ.queryExecution.executedPlan.toString
        .contains("nullfact.parquet"),
        "count(col) over a cnt_-less artifact must refuse")
      val okQ = fact.groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
      assert(okQ.queryExecution.executedPlan.toString.contains("legacymv"),
        "count(*)/sum must still serve from the legacy artifact")
    } finally SummaryRewrite.deregister("spec_nulls")
  }

  test("mixed regular + multi-distinct: count(*)/sum/avg beside two " +
      "distinct groups serve via null-masked partials, exactly") {
    withSummary {
      def q = docs.groupBy($"source")
        .agg(countDistinct($"lang").as("nl"),
          countDistinct($"lang", $"source").as("nls"),
          count(lit(1)).as("n"), sum($"n_chars").as("sc"),
          avg($"n_chars").as("a"))
      val p = q.queryExecution.executedPlan.toString
      assert(usesMv(q), s"mixed regular+distinct did not serve:\n$p")
      assert(p.contains("Expand"), "not the expanded mixed shape")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "mixed-shape values diverged — the null MASK on partial " +
          "pass-throughs is load-bearing")
      // global variant too
      def g = docs.agg(countDistinct($"source").as("ns"),
        countDistinct($"lang").as("nl"), count(lit(1)).as("n"),
        sum($"n_chars").as("sc"))
      assert(usesMv(g), "global mixed shape did not serve")
      SummaryRewrite.deregister("spec_mv")
      val expectG = g.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(g.collect().map(_.toSeq).toSet === expectG)
      // a non-derivable regular measure refuses the whole rewrite
      val bad = docs.groupBy($"source")
        .agg(countDistinct($"lang").as("nl"),
          countDistinct($"lang", $"source").as("nls"),
          sum(length($"text")).as("s"))
      assert(!usesMv(bad),
        "an unknown regular measure must refuse the mixed rewrite")
    }
  }

  test("FILTER (WHERE key-pred) aggregates serve — replayed onto the " +
      "partials; non-key filter clauses refuse") {
    val fmv = graft.TempDirs.create("mvspec")
      .toString + "/filtermv"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = fmv, minMaxCols = Seq("n_chars"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_filter",
      SummaryRewrite.Summary("documents.parquet", fmv,
        Set("source", "lang")))
    try {
      def served(df: DataFrame): Boolean = {
        val p = df.queryExecution.executedPlan.toString
        p.contains("filtermv") && !p.contains("documents.parquet")
      }
      // the full conditional-dashboard row: plain filtered aggregates
      // AND a filtered distinct (the latter forces the
      // RewriteDistinctAggregates Expand with masked filter refs)
      def q = docs.groupBy($"lang").agg(
        expr("count(*) FILTER (WHERE source = 'src1')").as("n1"),
        expr("sum(n_chars) FILTER (WHERE source <> 'src1')").as("sc"),
        expr("min(n_chars) FILTER (WHERE source = 'src2')").as("lo"),
        expr("avg(n_chars) FILTER (WHERE source = 'src1')").as("a"),
        expr("count(DISTINCT source) FILTER (WHERE source <> 'src3')")
          .as("nd"),
        count(lit(1)).as("n"))
      assert(served(q), "key-filtered aggregates did not serve")
      SummaryRewrite.deregister("spec_filter")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_filter",
        SummaryRewrite.Summary("documents.parquet", fmv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "FILTER-clause replay diverged from the fact answer")
      // a filter clause over a MEASURE (non-key) must refuse
      val bad = docs.groupBy($"lang").agg(
        expr("count(*) FILTER (WHERE n_chars > 100)").as("n"))
      assert(!served(bad), "non-key FILTER clause must refuse")
      // (a NONDETERMINISTIC filter clause never reaches the rule —
      // Spark's analyzer rejects it; the rule's determinism guard is
      // defense-in-depth for programmatically-built plans)
    } finally SummaryRewrite.deregister("spec_filter")
  }

  test("measure EXPRESSIONS over keys serve: sum/count/min/max/avg/" +
      "distinct of f(keys); non-key or float expressions refuse") {
    withSummary {
      def q = docs.groupBy($"source").agg(
        sum(when($"lang" === "en", 1).otherwise(0)).as("n_en"),
        sum(length($"lang").cast("long")).as("lang_len_sum"),
        count(when($"lang" === "de", 1)).as("n_de"),
        min(upper($"lang")).as("first_lang"),
        max(length($"lang")).as("max_len"),
        avg(length($"lang")).as("avg_len"),
        countDistinct(substring($"lang", 1, 1)).as("n_first"),
        count(lit(1)).as("n"))
      assert(usesMv(q), "key-expression measures did not serve")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "key-expression derivations diverged — Σ cnt·f is load-bearing")
      // expression over a NON-key column refuses
      val bad = docs.groupBy($"source")
        .agg(sum(when($"n_chars" > 100, 1).otherwise(0)).as("s"))
      assert(!usesMv(bad), "non-key expression measure must refuse")
      // float-typed key expression refuses SUM (reassociation)
      val fp = docs.groupBy($"source")
        .agg(sum(length($"lang") * lit(0.5)).as("s"))
      assert(!usesMv(fp), "float key-expression SUM must refuse")
      // (a NONDETERMINISTIC measure never reaches the rule — Spark's
      // analyzer rejects nondeterministic aggregate arguments outright)
    }
  }

  test("COMPOSED outputs serve: expressions over aggregates " +
      "(coalesce, ratios, key glue) derive per-aggregate, exactly") {
    withSummary {
      // the CollapseProject shape: a user .select over the aggregate
      // is folded INTO the aggregate list before the rule runs
      def q = docs.groupBy($"source").agg(
          expr("sum(n_chars) FILTER (WHERE lang = 'zz')").as("raw_zz"),
          count(lit(1)).as("n"),
          sum($"n_chars").as("sc"))
        .select($"source",
          coalesce($"raw_zz", lit(0L)).as("zz"),
          ($"sc" / $"n").as("ratio"),
          concat($"source", lit("!")).as("tagged"),
          $"n")
      assert(usesMv(q), "composed outputs did not serve")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "composed-output derivation diverged")
      // an embedded NON-derivable aggregate refuses the whole output
      val bad = docs.groupBy($"source")
        .agg(coalesce(sum(length($"text")), lit(0L)).as("s"))
      assert(!usesMv(bad),
        "a non-derivable aggregate inside glue must refuse")
    }
  }

  test("approx_count_distinct over keys serves BIT-identically (HLL is " +
      "value-set pure); over a non-key it refuses") {
    withSummary {
      def q = docs.groupBy($"source")
        .agg(approx_count_distinct($"lang").as("ad"),
          approx_count_distinct(concat($"lang", $"source")).as("ade"),
          count(lit(1)).as("n"))
      assert(usesMv(q), "HLL over keys did not serve")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "HLL sketch over summary rows diverged — it must be the same " +
          "register set (multiplicity-free)")
      val bad = docs.groupBy($"source")
        .agg(approx_count_distinct($"n_chars").as("ad"))
      assert(!usesMv(bad), "HLL over a non-key measure must refuse")
    }
  }

  test("EXACT percentile/median over keys serves via the frequency " +
      "argument (percentile(k, p, cnt)); non-key and custom-frequency " +
      "refuse") {
    val pmv = graft.TempDirs.create("mvspec")
      .toString + "/pctmv"
    // a NUMERIC key so percentile resolves: orders by custkey
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"), mvPath = pmv)
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_pct",
      SummaryRewrite.Summary("orders.parquet", pmv, Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      def q = orders.groupBy(expr("o_custkey % 3").as("b"))
        .agg(expr("percentile(o_custkey, 0.5)").as("med"),
          expr("median(o_custkey)").as("med2"),
          expr("percentile(o_custkey, 0.9) FILTER (WHERE o_custkey % 2 = 0)")
            .as("p90even"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("pctmv") && !p.contains("orders.parquet"),
        s"percentile over a key did not serve:\n$p")
      SummaryRewrite.deregister("spec_pct")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_pct",
        SummaryRewrite.Summary("orders.parquet", pmv, Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "frequency-weighted percentile diverged — cnt must replay the " +
          "exact multiplicities the collapse removed")
      // percentile over a non-key measure refuses (no value partial)
      val bad = orders.groupBy(expr("o_custkey % 3").as("b"))
        .agg(expr("percentile(o_orderkey, 0.5)").as("m"))
      assert(bad.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "percentile over a non-key measure must refuse")
      // a user-supplied frequency is NOT a row count — refuse
      val custom = orders.groupBy(expr("o_custkey % 3").as("b"))
        .agg(expr("percentile(o_custkey, 0.5, 2)").as("m"))
      assert(custom.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "custom-frequency percentile must refuse")
    } finally SummaryRewrite.deregister("spec_pct")
  }

  test("rollup + FILTER aggregates compose in the Expand path " +
      "(filter refs remapped to masked key pass-throughs)") {
    withSummary {
      def q = docs.rollup($"source").agg(
        expr("count(*) FILTER (WHERE lang = 'en')").as("n_en"),
        expr("sum(n_chars) FILTER (WHERE lang <> 'en')").as("sc"),
        count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(usesMv(q), s"rollup + FILTER did not serve:\n$p")
      assert(p.contains("Expand"), "not the rollup Expand shape")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "rollup + FILTER replay diverged")
      // a non-key FILTER under the rollup refuses
      val bad = docs.rollup($"source").agg(
        expr("count(*) FILTER (WHERE n_chars > 100)").as("n"))
      assert(!usesMv(bad), "non-key FILTER under rollup must refuse")
    }
  }

  test("rollup pivot: Σ cnt·f measures over keys serve in the Expand " +
      "path (sum/avg/count/min of CASE over a key), exact vs fact; a " +
      "non-key expression refuses") {
    withSummary {
      // the BI pivot row under a NATIVE ROLLUP: each aggregate's child
      // is an expression of the lang KEY (a measure pass-through of a
      // key column, null-masked per projection), derived as Σ cnt·f /
      // Σ cnt[f non-null] — the direct path's keyExpr family on the
      // Expand shape
      def q = docs.rollup($"source").agg(
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en_case"),
        avg(when($"lang" === "en", 1L).otherwise(0L)).as("share_en"),
        count(when($"lang" === "de", lit(1))).as("n_de"),
        min(length($"lang")).as("min_langlen"),
        expr("sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) " +
          "FILTER (WHERE lang <> 'zz')").as("n_en_filtered"),
        count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(usesMv(q), s"rollup Σ cnt·f did not serve:\n$p")
      assert(p.contains("Expand"), "not the rollup Expand shape")
      SummaryRewrite.deregister("spec_mv")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv",
        SummaryRewrite.Summary("documents.parquet", mv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "Σ cnt·f over the Expand diverged from the fact rollup")
      // an expression over a NON-key measure refuses (n_chars is not
      // key-determined — its per-row values are gone from the summary)
      val bad = docs.rollup($"source").agg(
        sum(when($"n_chars" > 100, 1L).otherwise(0L)).as("n_big"))
      assert(!usesMv(bad), "non-key expression measure must refuse")
      // float result types refuse too (sum of a double expression)
      val badF = docs.rollup($"source").agg(
        sum(when($"lang" === "en", 1.5).otherwise(0.0)).as("s"))
      assert(!usesMv(badF), "non-integral Σ cnt·f must refuse")
    }
  }

  test("rollup sketches and percentiles: approx_count_distinct over a " +
      "key and over an hll-measure serve under native ROLLUP " +
      "bit-identically; percentile/median over keys replay cnt through " +
      "the frequency argument; mismatched rsd refuses in the Expand " +
      "path too") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    // part A: documents with an hll_<p>_doc_id register partial
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/hllroll", hllCols = Seq("doc_id"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_hllroll2",
      SummaryRewrite.Summary("documents.parquet", s"$tmp/hllroll",
        Set("source", "lang")))
    try {
      def q = docs.rollup($"source")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          approx_count_distinct($"doc_id").as("u_measure"),
          approx_count_distinct($"lang").as("u_key"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("hllroll") && !p.contains("documents.parquet") &&
        p.contains("Expand"),
        s"rollup sketch did not serve through the Expand:\n$p")
      SummaryRewrite.deregister("spec_hllroll2")
      val direct = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hllroll2",
        SummaryRewrite.Summary("documents.parquet", s"$tmp/hllroll",
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === direct,
        "rollup sketches diverged from the fact rollup — both the " +
          "key sketch and the register-partial merge must be " +
          "bit-identical")
      // mismatched rsd refuses in the Expand path too
      val mism = docs.rollup($"source")
        .agg(approx_count_distinct($"doc_id", 0.01).as("u"))
      assert(!mism.queryExecution.executedPlan.toString.contains("hllroll"),
        "mismatched-rsd rollup sketch must refuse")
    } finally SummaryRewrite.deregister("spec_hllroll2")
    // part B: exact percentile/median over a NUMERIC key under rollup
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/pctroll")
    SummaryRewrite.register("spec_pctroll",
      SummaryRewrite.Summary("orders.parquet", s"$tmp/pctroll",
        Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      def q = orders.rollup(expr("o_custkey % 3").as("b"))
        .agg(expr("percentile(o_custkey, 0.5)").as("med"),
          expr("median(o_custkey)").as("med2"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("pctroll") && !p.contains("orders.parquet") &&
        p.contains("Expand"),
        s"rollup percentile did not serve:\n$p")
      SummaryRewrite.deregister("spec_pctroll")
      val direct = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_pctroll",
        SummaryRewrite.Summary("orders.parquet", s"$tmp/pctroll",
          Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === direct,
        "rollup percentile diverged — cnt must replay the exact " +
          "multiplicities per grouping set")
      // a user-supplied frequency refuses under rollup too
      val custom = orders.rollup(expr("o_custkey % 3").as("b"))
        .agg(expr("percentile(o_custkey, 0.5, 2)").as("m"))
      assert(!custom.queryExecution.executedPlan.toString
        .contains("pctroll"),
        "custom-frequency rollup percentile must refuse")
    } finally SummaryRewrite.deregister("spec_pctroll")
  }

  test("catalog freshness listing is TTL-rate-limited (back-to-back " +
      "optimizations list at most once); a same-JVM publish bypasses " +
      "the TTL so the freshness law stays green") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val catDir = s"$tmp/ttlcat"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/ttlmv")
    SummaryRewrite.publishCatalog(spark, catDir, Map(
      "ttl_docs" -> SummaryRewrite.Summary("documents.parquet",
        s"$tmp/ttlmv", Set("source", "lang"))))
    SummaryRewrite.clear()
    // frozen injectable clock: every optimization lands inside the TTL
    val oldClock = SummaryRewrite.nanoClock
    val oldTtl = SummaryRewrite.refreshTtlNanos
    var now = 0L
    SummaryRewrite.nanoClock = () => now
    SummaryRewrite.refreshTtlNanos = 1000000000L
    try {
      assert(SummaryRewrite.install(spark, catDir) === 1)
      def q = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      val before = SummaryRewrite.listingCount.get()
      assert(q.queryExecution.executedPlan.toString.contains("ttlmv"))
      assert(q.queryExecution.executedPlan.toString.contains("ttlmv"))
      val listed = SummaryRewrite.listingCount.get() - before
      assert(listed <= 1,
        s"two back-to-back optimizations paid $listed freshness " +
          "listings — a high-QPS dashboard would pay an object-store " +
          "LIST per planning pass")
      // the TTL must not trade away same-JVM freshness: a publish
      // invalidates its directory's stamp, so the very next query sees
      // cat=2 even with the clock frozen
      SummaryRewrite.publishCatalog(spark, catDir,
        Map.empty[String, SummaryRewrite.Summary])
      val p2 = q.queryExecution.executedPlan.toString
      assert(!p2.contains("ttlmv") && p2.contains("documents.parquet"),
        s"publish must bypass the TTL — stale serving after cat=2:\n$p2")
      // an expired TTL lists again (cross-JVM publishes surface within
      // one TTL window)
      now += 2L * SummaryRewrite.refreshTtlNanos
      val beforeExpiry = SummaryRewrite.listingCount.get()
      q.queryExecution.executedPlan
      assert(SummaryRewrite.listingCount.get() > beforeExpiry,
        "an expired TTL must re-list — cross-JVM freshness")
    } finally {
      SummaryRewrite.nanoClock = oldClock
      SummaryRewrite.refreshTtlNanos = oldTtl
      SummaryRewrite.clear()
    }
  }

  test("store-backed resolution is TTL-rate-limited like the catalog " +
      "refresh; a same-JVM writeSnapshot bypasses the TTL") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val store = s"$tmp/ttlstore"
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(
        spark.read.parquet(s"$dir/documents.parquet"),
        Seq("source", "lang"), Seq("n_chars")),
      store)
    SummaryRewrite.install(spark)
    SummaryRewrite.registerStore("spec_ttlstore", "documents.parquet",
      store, Set("source", "lang"))
    val oldClock = SummaryRewrite.nanoClock
    val oldTtl = SummaryRewrite.refreshTtlNanos
    var now = 0L
    SummaryRewrite.nanoClock = () => now
    SummaryRewrite.refreshTtlNanos = 1000000000L
    try {
      def q = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      val before = SummaryRewrite.storeListingCount.get()
      assert(q.queryExecution.executedPlan.toString.contains("snap=1"))
      assert(q.queryExecution.executedPlan.toString.contains("snap=1"))
      val listed = SummaryRewrite.storeListingCount.get() - before
      assert(listed <= 1,
        s"two back-to-back optimizations paid $listed store listings — " +
          "a dashboard would pay an object-store LIST per candidate " +
          "per planning pass")
      // a new commit must serve on the very next query (same-JVM
      // writeSnapshot invalidates the stamp; the TTL only bounds
      // CROSS-JVM staleness)
      graft.operators.IndexOps.writeSnapshot(
        SummaryRewrite.summaryFrame(
          spark.read.parquet(s"$dir/documents.parquet"),
          Seq("source", "lang"), Seq("n_chars")),
        store)
      assert(q.queryExecution.executedPlan.toString.contains("snap=2"),
        "a same-JVM snapshot commit must bypass the listing TTL")
    } finally {
      SummaryRewrite.nanoClock = oldClock
      SummaryRewrite.refreshTtlNanos = oldTtl
      SummaryRewrite.deregister("spec_ttlstore")
    }
  }

  test("hll measure partials serve through the star-join and union " +
      "paths, bit-identically (register merge is idempotent under the " +
      "join's row multiplication and a monoid under union)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    // star join: orders summarized by o_custkey with an o_orderkey
    // sketch; dim = customer
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/hllstar", hllCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_hllstar",
      SummaryRewrite.Summary("orders.parquet", s"$tmp/hllstar",
        Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      def customer = graft.Tables.load(spark, dir, "customer")
      def q = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey")
        .agg(approx_count_distinct($"o_orderkey").as("u"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("hllstar") && !p.contains("orders.parquet"),
        s"star-join sketch did not serve:\n$p")
      SummaryRewrite.deregister("spec_hllstar")
      val direct = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hllstar",
        SummaryRewrite.Summary("orders.parquet", s"$tmp/hllstar",
          Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === direct,
        "star-join sketch diverged — register max-merge must be " +
          "idempotent under the dim-match multiplication")
    } finally SummaryRewrite.deregister("spec_hllstar")
    // union: two epochs, each with its own sketch-carrying artifact
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"lang", $"n_chars")
    (0 to 1).foreach { i =>
      docsAll.filter($"doc_id" % 2 === i)
        .write.parquet(s"$tmp/hep$i/d.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/hep$i/d.parquet",
        keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
        mvPath = s"$tmp/hllu$i", hllCols = Seq("doc_id"))
      SummaryRewrite.register(s"spec_hllu$i",
        SummaryRewrite.Summary(s"hep$i/d.parquet", s"$tmp/hllu$i",
          Set("source", "lang")))
    }
    try {
      def q = spark.read.parquet(s"$tmp/hep0/d.parquet")
        .union(spark.read.parquet(s"$tmp/hep1/d.parquet"))
        .groupBy($"lang")
        .agg(approx_count_distinct($"doc_id").as("u"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("hllu0") && p.contains("hllu1") &&
        !p.contains("d.parquet"),
        s"union sketch did not serve:\n$p")
      (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_hllu$i"))
      val direct = q.collect().map(_.toSeq).toSet
      (0 to 1).foreach(i => SummaryRewrite.register(s"spec_hllu$i",
        SummaryRewrite.Summary(s"hep$i/d.parquet", s"$tmp/hllu$i",
          Set("source", "lang"))))
      assert(q.collect().map(_.toSeq).toSet === direct,
        "union sketch diverged — per-epoch registers must merge to " +
          "the concatenation's registers")
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_hllu$i"))
  }

  test("native ROLLUP over a UNION of registered facts serves — the " +
      "multi-epoch BI matrix; an uncovered branch serves hybrid, " +
      "sketch rollups included (inline-aggregated registers)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"lang", $"n_chars")
    (0 to 1).foreach { i =>
      docsAll.filter($"doc_id" % 2 === i)
        .write.parquet(s"$tmp/rep$i/d.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/rep$i/d.parquet",
        keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
        mvPath = s"$tmp/rollu$i", hllCols = Seq("doc_id"))
    }
    SummaryRewrite.install(spark)
    def reg(i: Int): Unit = SummaryRewrite.register(s"spec_rollu$i",
      SummaryRewrite.Summary(s"rep$i/d.parquet", s"$tmp/rollu$i",
        Set("source", "lang")))
    (0 to 1).foreach(reg)
    try {
      def un = spark.read.parquet(s"$tmp/rep0/d.parquet")
        .union(spark.read.parquet(s"$tmp/rep1/d.parquet"))
      def q = un.rollup($"source")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum($"n_chars").as("sc"),
          approx_count_distinct($"doc_id").as("u"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("rollu0") && p.contains("rollu1") &&
        !p.contains("d.parquet") && p.contains("Expand"),
        s"rollup over union did not serve both branches:\n$p")
      (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_rollu$i"))
      val direct = q.collect().map(_.toSeq).toSet
      (0 to 1).foreach(reg)
      assert(q.collect().map(_.toSeq).toSet === direct,
        "rollup-over-union diverged from the fact union rollup " +
          "(sketch included — register merges compose across epochs " +
          "and grouping sets)")
      // a key-only filter above the union still serves (pushed into
      // each branch below the Expand)
      def qf = un.filter($"lang" === "en").rollup($"source")
        .agg(count(lit(1)).as("n"))
      val pf = qf.queryExecution.executedPlan.toString
      assert(pf.contains("rollu0") && pf.contains("rollu1") &&
        !pf.contains("d.parquet"),
        s"filtered rollup over union did not serve:\n$pf")
      (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_rollu$i"))
      val expectF = qf.collect().map(_.toSeq).toSet
      (0 to 1).foreach(reg)
      assert(qf.collect().map(_.toSeq).toSet === expectF)
      // an uncovered epoch serves HYBRID even for the SKETCH rollup:
      // the branch inline-aggregates its own registers (value-set
      // pure), so the folded estimate per grouping set stays
      // bit-identical to the fact-union rollup
      SummaryRewrite.deregister("spec_rollu1")
      val phs = q.queryExecution.executedPlan.toString
      assert(phs.contains("rollu0") && phs.contains("rep1/d.parquet") &&
        !phs.contains("rep0/d.parquet") && phs.contains("Expand"),
        s"sketch rollup must serve hybrid over an uncovered epoch:\n$phs")
      assert(q.collect().map(_.toSeq).toSet === direct,
        "hybrid sketch rollup diverged from the fact-union rollup")
      // and the plain rollup serves hybrid per-ROW (no inline shuffle)
      def qh = un.rollup($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
      val phh = qh.queryExecution.executedPlan.toString
      assert(phh.contains("rollu0") && phh.contains("rep1/d.parquet") &&
        !phh.contains("rep0/d.parquet") && phh.contains("Expand"),
        s"plain rollup must serve hybrid over an uncovered epoch:\n$phh")
      val hybridVals = qh.collect().map(_.toSeq).toSet
      SummaryRewrite.deregister("spec_rollu0")
      assert(qh.collect().map(_.toSeq).toSet === hybridVals,
        "hybrid rollup diverged from the fact-union rollup")
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_rollu$i"))
  }

  test("adviseSummaries: one advised registration serves every observed " +
      "dashboard query; unservable shapes are named in the notes") {
    val q1 = docs.groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
    val q2 = docs.filter($"lang" === "en").groupBy($"source")
      .agg(avg($"n_chars").as("ac"), max($"n_chars").as("mx"))
    val q3 = docs.groupBy($"lang")
      .agg(approx_count_distinct($"doc_id").as("u"),
        countDistinct($"source").as("ns"))
    val q4 = docs.groupBy($"source")
      .agg(countDistinct($"n_chars").as("uc"),
        expr("median(n_chars)").as("mc"))
    val q5 = docs.groupBy($"source")
      .agg(sum(expr("n_chars * 2 + length(lang)")).as("se"),
        min(expr("n_chars * 2 + length(lang)")).as("me"))
    val q6 = docs.groupBy($"source")
      .agg(expr("count(DISTINCT n_chars * 2 + length(lang))").as("ue"),
        expr("median(n_chars * 2 + length(lang))").as("pe"))
    // TWO distinct groups: the optimizer expands this into the double
    // aggregation BEFORE the advisor sees it — the pre-expansion
    // fallback must still advise (hist for the non-key measure, key
    // path for source), mirroring the q296 serve matrix
    val q7 = docs.groupBy($"lang")
      .agg(countDistinct($"n_chars").as("u1"),
        countDistinct($"source").as("u2"), count(lit(1)).as("n"))
    val qJoin = graft.Tables.load(spark, dir, "orders")
      .join(graft.Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy($"c_nationkey").agg(count(lit(1)).as("n"))
    // the LATTICE dashboard: the analyzed plan is Aggregate over the
    // rollup Expand — the advisor rebases key/measure positions onto
    // the fact columns and drops the grouping_id from the keys
    val q9 = docs.rollup($"lang")
      .agg(grouping($"lang").cast("long").as("g_l"),
        countDistinct($"n_chars").as("uc"),
        expr("median(n_chars)").as("mc"), count(lit(1)).as("n"))
    // the STAR dashboard: two distinct FACT measures grouped by a DIM
    // attribute — the advisor peels the join and advises the fact
    // summary keyed by the join attr with a hist per measure (the
    // q298 serve shape, mirrored at advice time)
    val q8 = graft.Tables.load(spark, dir, "orders")
      .join(graft.Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"o_orderkey").as("uo"),
        countDistinct($"o_totalprice").as("ut"),
        count(lit(1)).as("n"))
    val (advs, notes) =
      SummaryRewrite.adviseSummaries(spark,
        Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, qJoin))
    val ao = advs.find(_.fact.endsWith("orders.parquet"))
      .getOrElse(fail(s"no orders star advice in $advs"))
    assert(ao.keys === Set("o_custkey") &&
      ao.histCols === Seq("o_orderkey", "o_totalprice"),
      s"star advice must key the join attr and hist both measures: $ao")
    val a = advs.find(_.fact.endsWith("documents.parquet"))
      .getOrElse(fail(s"no documents advice in $advs"))
    assert(a.keys === Set("source", "lang"),
      "keys must be the union of grouping + filter columns — distinct " +
        "over a keyed column (q3's source) adds no key and no hist")
    assert(a.sumCols === Seq("n_chars") && a.minMaxCols === Seq("n_chars"))
    assert(a.hllCols === Seq("doc_id") && a.covered === 8,
      s"the multi-distinct and lattice dashboard queries must be " +
        s"advised, not shrugged off as Expand shapes: $a / $notes")
    assert(a.exprHistCols.size === 1,
      "distinct/percentile over a computed measure must advise an " +
        s"expression HISTOGRAM, not keys: $a")
    assert(a.exprCols.size === 1 && a.exprMinMax.size === 1 &&
      a.exprCols.head._1 === a.exprMinMax.head._1,
      "a computed measure must advise an expression partial, NOT keys " +
        s"(keying n_chars rebuilds the fact): $a")
    assert(!a.keys.contains("n_chars"),
      "the expression's referenced measure must not become a key")
    assert(a.histCols === Seq("n_chars"),
      "distinct/percentile over a bare non-key measure must advise a " +
        "hist_<col> partial, not a key (keying a distinct column " +
        "multiplies the artifact rows by its cardinality)")
    assert(notes.exists(_.contains("not over a bare fact")),
      s"the join query must be named unservable: $notes")
    // the proposal makes good on itself: build + register, all three
    // dashboard queries plan-serve and stay exact
    val mvA = graft.TempDirs.create("mvspec")
      .toString + "/advised"
    SummaryRewrite.install(spark)
    SummaryRewrite.buildAdvice(spark, a, "spec_advice", mvA)
    try {
      Seq(("q1", () => q1), ("q2", () => q2), ("q3", () => q3),
        ("q4", () => q4), ("q5", () => q5), ("q6", () => q6),
        ("q7", () => q7), ("q9", () => q9)).foreach {
        case (nm, mk) =>
          val p = mk().queryExecution.executedPlan.toString
          assert(p.contains("advised") && !p.contains("documents.parquet"),
            s"advised summary did not serve $nm:\n$p")
          SummaryRewrite.deregister("spec_advice")
          val expect = mk().collect().map(_.toSeq).toSet
          SummaryRewrite.register("spec_advice", SummaryRewrite.Summary(
            a.fact, mvA, a.keys, table = a.table,
            exprs = (a.exprCols ++ a.exprMinMax ++ a.exprHistCols).toMap))
          assert(mk().collect().map(_.toSeq).toSet === expect,
            s"advised serving diverged for $nm")
      }
    } finally SummaryRewrite.deregister("spec_advice")
    // the star advice makes good on itself: build + register, the
    // dim-grouped uniques dashboard serves through the expanded star
    val mvO = graft.TempDirs.create("mvspec")
      .toString + "/advisedstar"
    SummaryRewrite.buildAdvice(spark, ao, "spec_advice_star", mvO)
    try {
      val p8 = q8.queryExecution.executedPlan.toString
      assert(p8.contains("advisedstar") && !p8.contains("orders.parquet"),
        s"advised star summary did not serve q8:\n$p8")
      SummaryRewrite.deregister("spec_advice_star")
      val expect = q8.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_advice_star", SummaryRewrite.Summary(
        ao.fact, mvO, ao.keys))
      assert(q8.collect().map(_.toSeq).toSet === expect,
        "advised star serving diverged")
    } finally SummaryRewrite.deregister("spec_advice_star")
    // the MULTI-EPOCH star (q299's deployment shape): a UNION of epoch
    // facts joined to a dim — the serve path needs every branch to
    // carry its own artifact, so the advisor emits ONE advice PER
    // branch fact, each keyed by the join attr with a hist per measure
    val tmpU = graft.TempDirs.create("mvspec").toString
    (0 to 1).foreach { i =>
      graft.Tables.load(spark, dir, "orders")
        .filter($"o_orderkey" % 2 === i)
        .write.parquet(s"$tmpU/aep$i/o.parquet")
    }
    val q10 = spark.read.parquet(s"$tmpU/aep0/o.parquet")
      .union(spark.read.parquet(s"$tmpU/aep1/o.parquet"))
      .join(graft.Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(expr("median(o_orderkey)").as("mo"),
        expr("median(o_totalprice)").as("mt"),
        count(lit(1)).as("n"))
    val (advsU, notesU) = SummaryRewrite.adviseSummaries(spark, Seq(q10))
    (0 to 1).foreach { i =>
      val ai = advsU.find(_.fact.endsWith(s"aep$i/o.parquet"))
        .getOrElse(fail(s"no epoch-$i advice in $advsU / $notesU"))
      assert(ai.keys === Set("o_custkey") &&
        ai.histCols === Seq("o_orderkey", "o_totalprice"),
        s"epoch advice must key the join attr and hist both measures: $ai")
    }
  }

  test("UNION fact under the EXPANDED star: the multi-epoch uniques-" +
      "pair dashboard serves — each measure side unions per-branch " +
      "artifact scans under its rebuilt dim tower; an uncovered epoch " +
      "partializes (hybrid)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    (0 to 1).foreach { i =>
      orders.filter($"o_orderkey" % 2 === i)
        .write.parquet(s"$tmp/xep$i/o.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/xep$i/o.parquet",
        keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
        mvPath = s"$tmp/xepmv$i",
        histCols = Seq("o_orderkey", "o_totalprice"))
    }
    SummaryRewrite.install(spark)
    def reg(i: Int): Unit = SummaryRewrite.register(s"spec_xep$i",
      SummaryRewrite.Summary(s"xep$i/o.parquet", s"$tmp/xepmv$i",
        Set("o_custkey")))
    (0 to 1).foreach(reg)
    try {
      def customer = graft.Tables.load(spark, dir, "customer")
      def un = spark.read.parquet(s"$tmp/xep0/o.parquet")
        .union(spark.read.parquet(s"$tmp/xep1/o.parquet"))
      def q = un.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("xepmv0") && p.contains("xepmv1") &&
        !p.contains("o.parquet"),
        s"union x expanded star did not serve both epochs:\n$p")
      assert("Generate".r.findAllIn(p).size >= 2,
        "need one explosion per measure side")
      assert(p.contains("BroadcastHashJoin"),
        "the side join must be pinned BROADCAST")
      val expect = q.collect().map(_.toSeq).toSet
      (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_xep$i"))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "union x expanded star diverged from the fact plan")
      (0 to 1).foreach(reg)
      // HYBRID: the uncovered epoch partializes, the covered one
      // keeps its artifact — under the rebuilt dim tower
      SummaryRewrite.deregister("spec_xep1")
      val ph = q.queryExecution.executedPlan.toString
      assert(ph.contains("xepmv0") && ph.contains("xep1/o.parquet") &&
        !ph.contains("xep0/o.parquet"),
        s"hybrid must partialize exactly the uncovered epoch:\n$ph")
      reg(1)
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_xep$i"))
  }

  test("EXPANDED-star corners, value-exact each: fact-preserved OUTER " +
      "join (NULL dim groups from unmatched facts), key-covered fact " +
      "filter below the join, dim-side filter, ROLLUP over the join " +
      "with one and with TWO hist measures; a non-key fact filter " +
      "refuses") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey", "o_orderstatus"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/xcorn", histCols = Seq("o_orderkey", "o_totalprice"))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_xcorn",
      SummaryRewrite.Summary("orders.parquet", s"$tmp/xcorn",
        Set("o_custkey", "o_orderstatus")))
    reg()
    def served(q: => org.apache.spark.sql.DataFrame, what: String): Unit = {
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("xcorn") && !p.contains("orders.parquet"),
        s"$what did not serve:\n$p")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.deregister("spec_xcorn")
      val ok = q.collect().map(_.toSeq).toSet == expect
      reg()
      assert(ok, s"$what diverged from the fact plan")
    }
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      def customer = graft.Tables.load(spark, dir, "customer")
      // fact-preserved LEFT OUTER against a filtered dim: unmatched
      // orders land in the NULL c_mktsegment group on both plans
      served(orders
        .join(customer.filter($"c_custkey" < 500),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"),
          count(lit(1)).as("n")), "outer-join uniques pair")
      // key-covered fact filter pushes onto every side's artifact scan
      served(orders.filter($"o_orderstatus" === "F")
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut")), "fact key filter")
      // dim-side filter stays on the (copied) dim plan untouched
      served(orders
        .join(customer.filter($"c_nationkey" < 10),
          col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut")), "dim filter")
      // the native lattice over the join — single hist measure rides
      // the direct Expand path, TWO split per measure over the tower
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .rollup($"c_mktsegment").agg(
          expr("percentile(o_orderkey, 0.5)").as("med"),
          count(lit(1)).as("n")), "rollup over join, one hist")
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .rollup($"c_mktsegment").agg(
          expr("percentile(o_orderkey, 0.5)").as("med_ok"),
          expr("percentile(o_totalprice, 0.5)").as("med_tp"),
          count(lit(1)).as("n")), "rollup over join, two hists")
      // a NON-key fact filter cannot push onto the artifact — refuse
      val nk = orders.filter($"o_totalprice" > 1000.0)
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"))
      assert(nk.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a non-key fact filter must refuse to the fact")
    } finally SummaryRewrite.deregister("spec_xcorn")
  }

  test("star join over a UNION fact: each epoch's summary substitutes " +
      "under the join (multi-epoch star schema); an uncovered epoch " +
      "partializes (hybrid) exactly") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    (0 to 1).foreach { i =>
      orders.filter($"o_orderkey" % 2 === i)
        .write.parquet(s"$tmp/oep$i/o.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/oep$i/o.parquet",
        keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
        mvPath = s"$tmp/starun$i", minMaxCols = Seq("o_totalprice"))
    }
    SummaryRewrite.install(spark)
    def reg(i: Int): Unit = SummaryRewrite.register(s"spec_starun$i",
      SummaryRewrite.Summary(s"oep$i/o.parquet", s"$tmp/starun$i",
        Set("o_custkey")))
    (0 to 1).foreach(reg)
    try {
      def customer = graft.Tables.load(spark, dir, "customer")
      def q = spark.read.parquet(s"$tmp/oep0/o.parquet")
        .union(spark.read.parquet(s"$tmp/oep1/o.parquet"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n"), sum($"o_orderkey").as("so"),
          max($"o_totalprice").as("mx"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("starun0") && p.contains("starun1") &&
        !p.contains("o.parquet"),
        s"union-fact star join did not serve both epochs:\n$p")
      (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_starun$i"))
      val direct = q.collect().map(_.toSeq).toSet
      (0 to 1).foreach(reg)
      assert(q.collect().map(_.toSeq).toSet === direct,
        "union-fact star join diverged — the join must distribute " +
          "over the epoch union exactly")
      // an uncovered epoch serves HYBRID under the join: each
      // partialized fact row joins exactly like the fact row it
      // stands for (cnt=1 — the multiplicity argument per row)
      SummaryRewrite.deregister("spec_starun1")
      val ph = q.queryExecution.executedPlan.toString
      assert(ph.contains("starun0") && ph.contains("oep1/o.parquet") &&
        !ph.contains("oep0/o.parquet"),
        s"star join must serve hybrid over an uncovered epoch:\n$ph")
      assert(q.collect().map(_.toSeq).toSet === direct,
        "hybrid star join diverged from the fact-union join")
      // LEFT OUTER with the fact preserved: a partialized row with no
      // dim match null-extends exactly like its fact row (m = 1)
      def qo = spark.read.parquet(s"$tmp/oep0/o.parquet")
        .union(spark.read.parquet(s"$tmp/oep1/o.parquet"))
        .join(customer.filter($"c_nationkey" < 3),
          col("o_custkey") === col("c_custkey"), "left")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n"), max($"o_totalprice").as("mx"))
        .select(coalesce($"c_nationkey", lit(-1)).as("nation"),
          $"n", $"mx")
      val po = qo.queryExecution.executedPlan.toString
      assert(po.contains("starun0") && po.contains("oep1/o.parquet") &&
        !po.contains("oep0/o.parquet"),
        s"outer star hybrid did not serve:\n$po")
      SummaryRewrite.deregister("spec_starun0")
      val directO = qo.collect().map(_.toSeq).toSet
      reg(0)
      assert(qo.collect().map(_.toSeq).toSet === directO,
        "hybrid OUTER star join diverged — null extension must treat " +
          "a partialized row exactly like its fact row")
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_starun$i"))
  }

  test("per-directory catalog binding: two catalogs bound in one JVM " +
      "refresh independently — neither steals the other's freshness") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val (catA, catB) = (s"$tmp/catA", s"$tmp/catB")
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/mvdocsA")
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/mvordersB")
    SummaryRewrite.publishCatalog(spark, catA, Map(
      "bindA_docs" -> SummaryRewrite.Summary("documents.parquet",
        s"$tmp/mvdocsA", Set("source", "lang"))))
    SummaryRewrite.publishCatalog(spark, catB, Map(
      "bindB_orders" -> SummaryRewrite.Summary("orders.parquet",
        s"$tmp/mvordersB", Set("o_custkey"))))
    SummaryRewrite.clear()
    assert(SummaryRewrite.install(spark, catA) === 1)
    assert(SummaryRewrite.install(spark, catB) === 1)
    try {
      def qd = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      def qo = graft.Tables.load(spark, dir, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      assert(qd.queryExecution.executedPlan.toString.contains("mvdocsA"))
      assert(qo.queryExecution.executedPlan.toString.contains("mvordersB"))
      // catalog A publishes an empty cat=2: A's entry stops serving,
      // B's binding is UNTOUCHED (the single-binding footgun this law
      // pins: a shared volatile would have let A's load steal B's)
      SummaryRewrite.publishCatalog(spark, catA,
        Map.empty[String, SummaryRewrite.Summary])
      val pd = qd.queryExecution.executedPlan.toString
      assert(!pd.contains("mvdocsA") && pd.contains("documents.parquet"),
        s"catalog A's deregistration must stop serving:\n$pd")
      assert(qo.queryExecution.executedPlan.toString.contains("mvordersB"),
        "catalog B must keep serving after A's publish")
      // and the reverse direction
      SummaryRewrite.publishCatalog(spark, catB,
        Map.empty[String, SummaryRewrite.Summary])
      assert(qo.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "catalog B's deregistration must stop serving")
    } finally SummaryRewrite.clear()
  }

  test("catalog entries are NAMESPACED by directory: two catalogs " +
      "publishing the SAME entry name both serve their own artifact — " +
      "no last-refresh-wins race — and each directory's drop " +
      "deregisters only its own entry") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val (catA, catB) = (s"$tmp/nsA", s"$tmp/nsB")
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/nsmvA")
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/nsmvB")
    // the SAME published name in both catalogs, different facts
    SummaryRewrite.publishCatalog(spark, catA, Map(
      "daily" -> SummaryRewrite.Summary("documents.parquet",
        s"$tmp/nsmvA", Set("source", "lang"))))
    SummaryRewrite.publishCatalog(spark, catB, Map(
      "daily" -> SummaryRewrite.Summary("orders.parquet",
        s"$tmp/nsmvB", Set("o_custkey"))))
    SummaryRewrite.clear()
    assert(SummaryRewrite.install(spark, catA) === 1)
    assert(SummaryRewrite.install(spark, catB) === 1)
    try {
      def qd = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      def qo = graft.Tables.load(spark, dir, "orders")
        .groupBy($"o_custkey").agg(count(lit(1)).as("n"))
      // pre-namespacing, B's load overwrote A's "daily" — docs fell
      // back to the fact scan; now both serve their own
      assert(qd.queryExecution.executedPlan.toString.contains("nsmvA"),
        "catalog A's same-named entry must keep serving after B binds")
      assert(qo.queryExecution.executedPlan.toString.contains("nsmvB"),
        "catalog B's same-named entry must serve")
      // B drops its "daily": only B's registration dies
      SummaryRewrite.publishCatalog(spark, catB,
        Map.empty[String, SummaryRewrite.Summary])
      assert(qo.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "catalog B's drop must stop serving B's entry")
      assert(qd.queryExecution.executedPlan.toString.contains("nsmvA"),
        "catalog B's drop must not touch A's same-named entry")
      // '@' is the namespace separator: a programmatic name carrying
      // it could collide with a catalog key and be silently
      // overwritten by a refresh — refused at registration AND publish
      intercept[IllegalArgumentException] {
        SummaryRewrite.register(s"daily@$catA",
          SummaryRewrite.Summary("x.parquet", s"$tmp/nsmvA", Set("k")))
      }
      intercept[IllegalArgumentException] {
        SummaryRewrite.publishCatalog(spark, catA, Map(
          "bad@name" -> SummaryRewrite.Summary("x.parquet",
            s"$tmp/nsmvA", Set("k"))))
      }
      // the convenience (no-map) publish snapshots only PROGRAMMATIC
      // registrations: republishing catalog-loaded `name@dir` keys
      // would leak this consumer's namespacing and compound per
      // publish→load generation (`daily@catA@catB`)
      SummaryRewrite.register("mine", SummaryRewrite.Summary(
        "documents.parquet", s"$tmp/nsmvA", Set("source", "lang")))
      val catC = s"$tmp/nsC"
      SummaryRewrite.publishCatalog(spark, catC)
      SummaryRewrite.clear()
      assert(SummaryRewrite.install(spark, catC) === 1,
        "convenience publish must carry exactly the programmatic entry")
      assert(qd.queryExecution.executedPlan.toString.contains("nsmvA"),
        "the republished programmatic entry must serve under its name")
    } finally SummaryRewrite.clear()
  }

  test("auditCatalog resolves TABLE-identified entries via spark.table " +
      "(status ok), and reports 'unauditable' — never a bogus " +
      "'missing' — when the identity cannot be resolved") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val catDir = s"$tmp/audcat"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/audmv")
    spark.sql("DROP TABLE IF EXISTS spec_audit_tbl")
    spark.sql("CREATE TABLE spec_audit_tbl USING parquet " +
      s"LOCATION '$dir/documents.parquet'")
    try {
      SummaryRewrite.publishCatalog(spark, catDir, Map(
        // table-identified, resolvable: must audit to 'ok'
        "aud_tbl" -> SummaryRewrite.Summary("", s"$tmp/audmv",
          Set("source", "lang"), table = Some("spec_audit_tbl")),
        // table-identified, NOT resolvable in this session: the sweep
        // cannot see it — 'unauditable', not 'missing' (the artifact
        // is fine; auditing "$factRoot/" would be the old bug)
        "aud_ghost" -> SummaryRewrite.Summary("", s"$tmp/audmv",
          Set("source", "lang"), table = Some("spec_no_such_table"))))
      val rows = SummaryRewrite.auditCatalog(spark, catDir, dir)
        .map(r => r._1 -> r._4).toMap
      assert(rows("aud_tbl") === "ok",
        s"a resolvable table-identified entry must audit clean: $rows")
      assert(rows("aud_ghost") === "unauditable",
        s"an unresolvable identity must be 'unauditable': $rows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec_audit_tbl")
    }
  }

  test("composed glue cannot hide a widened embedded re-aggregation: " +
      "cast(sum(decimal) as string) refuses (extra overflow headroom)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val factPath = s"$tmp/decfact.parquet"
    docs.select($"source", $"lang",
      $"n_chars".cast("decimal(12,2)").as("d")).write.parquet(factPath)
    SummaryRewrite.buildSummary(spark, factPath,
      keys = Seq("source", "lang"), sumCols = Seq("d"),
      mvPath = s"$tmp/decmv")
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_dec",
      SummaryRewrite.Summary("decfact.parquet", s"$tmp/decmv",
        Set("source", "lang")))
    try {
      def fact = spark.read.parquet(factPath)
      // bare: the type-preservation guard already refuses (sum over
      // decimal(22,2) partials re-widens to decimal(32,2))
      val bare = fact.groupBy($"source").agg(sum($"d").as("s"))
      assert(bare.queryExecution.executedPlan.toString
        .contains("decfact.parquet"),
        "bare decimal SUM must refuse — re-aggregation widens")
      // composed: type-erasing glue must not smuggle the widened
      // partial through (the fact scan can overflow to NULL where the
      // wider re-aggregation returns a value)
      val glued = fact.groupBy($"source")
        .agg(sum($"d").cast("string").as("s"))
      assert(glued.queryExecution.executedPlan.toString
        .contains("decfact.parquet"),
        "cast(sum(decimal) as string) must refuse — each embedded " +
          "aggregate's derived type must match its own original")
      // count beside it still serves (the artifact is fine)
      val ok = fact.groupBy($"source").agg(count(lit(1)).as("n"))
      assert(ok.queryExecution.executedPlan.toString.contains("decmv"),
        "count over the same artifact should still serve")
    } finally SummaryRewrite.deregister("spec_dec")
  }

  test("approx_count_distinct over a non-key MEASURE serves from the " +
      "hll_<p>_ register partial BIT-identically; mismatched rsd and a " +
      "partial-less artifact refuse") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val hmv = s"$tmp/hllmv"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"), mvPath = hmv,
      hllCols = Seq("doc_id"))
    // the artifact carries the register words under the precision-named
    // column (p in the name is the plan-time rsd contract)
    val p005 = HllSummary.pFor(0.05)
    assert(spark.read.parquet(hmv).schema.fieldNames
      .contains(s"hll_${p005}_doc_id"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_hll",
      SummaryRewrite.Summary("documents.parquet", hmv,
        Set("source", "lang")))
    try {
      def q = docs.groupBy($"source")
        .agg(approx_count_distinct($"doc_id").as("u"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("hllmv") && !p.contains("documents.parquet"),
        s"HLL measure partial did not serve:\n$p")
      SummaryRewrite.deregister("spec_hll")
      val direct = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hll",
        SummaryRewrite.Summary("documents.parquet", hmv,
          Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === direct,
        "served sketch is not bit-identical to the direct sketch — " +
          "register max-merge must reproduce the one-pass registers")
      // key-only FILTER replays onto the register partial too
      def filt = docs.groupBy($"source")
        .agg(expr("approx_count_distinct(doc_id) FILTER (WHERE lang = 'en')")
          .as("u"))
      assert(filt.queryExecution.executedPlan.toString.contains("hllmv"),
        "filtered sketch over the partial should serve")
      SummaryRewrite.deregister("spec_hll")
      val directF = filt.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hll",
        SummaryRewrite.Summary("documents.parquet", hmv,
          Set("source", "lang")))
      assert(filt.collect().map(_.toSeq).toSet === directF)
      // a mismatched rsd derives a different p, finds no hll_<p'>_
      // column, and refuses — never serves the wrong precision
      val mism = docs.groupBy($"source")
        .agg(approx_count_distinct($"doc_id", 0.01).as("u"))
      assert(mism.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "a mismatched-rsd sketch must refuse (no hll_<p'>_ partial)")
      // a measure with NO register partial refuses (n_chars has
      // sum_/cnt_ partials only)
      val none = docs.groupBy($"source")
        .agg(approx_count_distinct($"n_chars").as("u"))
      assert(none.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "a partial-less measure sketch must refuse")
    } finally SummaryRewrite.deregister("spec_hll")
  }

  test("hll partials fold exactly through rollupSummary and mergeDelta: " +
      "derived and merged artifacts serve the direct sketch's bits; " +
      "a drifted register is caught by the audit") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val fine = s"$tmp/hllfine"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = fine, hllCols = Seq("doc_id"))
    // rollup lattice: (source,lang) -> (source), registers max-merged
    val coarse = s"$tmp/hllcoarse"
    SummaryRewrite.writeSummary(
      SummaryRewrite.rollupSummary(spark.read.parquet(fine),
        Seq("source"), sumCols = Seq("n_chars")),
      Seq("source"), coarse)
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_hllroll",
      SummaryRewrite.Summary("documents.parquet", coarse, Set("source")))
    try {
      def q = docs.groupBy($"source")
        .agg(approx_count_distinct($"doc_id").as("u"))
      assert(q.queryExecution.executedPlan.toString.contains("hllcoarse"),
        "the derived coarser artifact should serve the sketch")
      SummaryRewrite.deregister("spec_hllroll")
      val direct = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hllroll",
        SummaryRewrite.Summary("documents.parquet", coarse, Set("source")))
      assert(q.collect().map(_.toSeq).toSet === direct,
        "rollup-derived registers diverged from the direct sketch")
    } finally SummaryRewrite.deregister("spec_hllroll")
    // mergeDelta: seed with half the fact, fold the other half in —
    // the merged registers must be the whole fact's
    val store = s"$tmp/hllstore"
    val whole = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(whole.filter($"doc_id" % 2 === 0),
        Seq("source", "lang"), Seq("n_chars"), hllCols = Seq("doc_id")),
      store)
    SummaryRewrite.mergeDelta(spark, store, whole.filter($"doc_id" % 2 === 1),
      Seq("source", "lang"), Seq("n_chars"))
    SummaryRewrite.registerStore("spec_hllmerge", "documents.parquet",
      store, Set("source", "lang"))
    try {
      def q = docs.groupBy($"lang")
        .agg(approx_count_distinct($"doc_id").as("u"))
      assert(q.queryExecution.executedPlan.toString.contains("hllstore"),
        "the merged snapshot should serve the sketch")
      SummaryRewrite.deregister("spec_hllmerge")
      val direct = q.collect().map(_.toSeq).toSet
      SummaryRewrite.registerStore("spec_hllmerge", "documents.parquet",
        store, Set("source", "lang"))
      assert(q.collect().map(_.toSeq).toSet === direct,
        "mergeDelta-folded registers diverged from the direct sketch")
    } finally SummaryRewrite.deregister("spec_hllmerge")
    // audit: zeroed registers are drift, caught like any partial
    val p005 = HllSummary.pFor(0.05)
    val drifted = s"$tmp/hlldrift"
    spark.read.parquet(fine)
      .withColumn(s"hll_${p005}_doc_id",
        expr(s"transform(hll_${p005}_doc_id, x -> cast(0 as bigint))"))
      .write.parquet(drifted)
    val diffs = SummaryRewrite.auditSummary(spark,
      s"$dir/documents.parquet",
      SummaryRewrite.Summary("documents.parquet", drifted,
        Set("source", "lang")),
      sumCols = Seq("n_chars")).count()
    assert(diffs > 0, "zeroed hll registers must surface as drift")
    val clean = SummaryRewrite.auditSummary(spark,
      s"$dir/documents.parquet",
      SummaryRewrite.Summary("documents.parquet", fine,
        Set("source", "lang")),
      sumCols = Seq("n_chars")).count()
    assert(clean === 0, "an exact artifact must audit clean, hll legs " +
      "included")
  }

  test("aggregate over a UNION of registered facts serves every branch " +
      "from its own summary (3 epochs), exactly, with per-branch filter " +
      "push; an uncovered branch partializes (hybrid); a computed alias " +
      "or a positional rename refuses") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"lang", $"n_chars")
    val epochs = (0 to 2).map { i =>
      val p = s"$tmp/ep$i/d.parquet"
      docsAll.filter($"doc_id" % 3 === i).write.parquet(p)
      SummaryRewrite.buildSummary(spark, p, keys = Seq("source", "lang"),
        sumCols = Seq("n_chars"), mvPath = s"$tmp/mvu$i",
        minMaxCols = Seq("n_chars"))
      p
    }
    SummaryRewrite.install(spark)
    def reg(i: Int): Unit = SummaryRewrite.register(s"spec_u$i",
      SummaryRewrite.Summary(s"ep$i/d.parquet", s"$tmp/mvu$i",
        Set("source", "lang")))
    (0 to 2).foreach(reg)
    try {
      def un = spark.read.parquet(epochs(0))
        .union(spark.read.parquet(epochs(1)))
        .union(spark.read.parquet(epochs(2)))
      def q = un.groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"),
          countDistinct($"source").as("ns"))
      val p = q.queryExecution.executedPlan.toString
      assert(Seq("mvu0", "mvu1", "mvu2").forall(p.contains) &&
        !p.contains("d.parquet"),
        s"3-epoch union did not serve all branches:\n$p")
      (0 to 2).foreach(i => SummaryRewrite.deregister(s"spec_u$i"))
      val expect = q.collect().map(_.toSeq).toSet
      (0 to 2).foreach(reg)
      assert(q.collect().map(_.toSeq).toSet === expect,
        "union-of-summaries diverged from the fact union")
      // a key-only filter ABOVE the union pushes into every branch's
      // summary scan
      def qf = un.filter($"source" === "src1").groupBy($"lang")
        .agg(count(lit(1)).as("n"), max($"n_chars").as("mx"))
      val pf = qf.queryExecution.executedPlan.toString
      assert(Seq("mvu0", "mvu1", "mvu2").forall(pf.contains) &&
        !pf.contains("d.parquet"),
        s"filtered union did not serve:\n$pf")
      (0 to 2).foreach(i => SummaryRewrite.deregister(s"spec_u$i"))
      val expectF = qf.collect().map(_.toSeq).toSet
      (0 to 2).foreach(reg)
      assert(qf.collect().map(_.toSeq).toSet === expectF)
      // ONE uncovered epoch serves HYBRID: its fact rows PARTIALIZE
      // (cnt=1, sum_x=x, ... — exact under the fold) while the covered
      // epochs keep their artifact scans
      SummaryRewrite.deregister("spec_u2")
      val ph = q.queryExecution.executedPlan.toString
      assert(Seq("mvu0", "mvu1").forall(ph.contains) &&
        ph.contains("ep2/d.parquet") &&
        !ph.contains("ep0/d.parquet") && !ph.contains("ep1/d.parquet"),
        s"hybrid union must partialize exactly the uncovered epoch:\n$ph")
      assert(q.collect().map(_.toSeq).toSet === expect,
        "hybrid union diverged from the fact union")
      reg(2)
      // a computed alias inside a branch refuses (name-shadowing risk;
      // abs() stays an expression after constant folding — `+ 0L`
      // would fold back to a bare rename, which rightly SERVES)
      val aliased = spark.read.parquet(epochs(0))
        .select($"doc_id", $"source", $"lang",
          abs($"n_chars").as("n_chars"))
        .union(spark.read.parquet(epochs(1)))
        .union(spark.read.parquet(epochs(2)))
        .groupBy($"lang").agg(sum($"n_chars").as("sc"))
      assert(aliased.queryExecution.executedPlan.toString
        .contains("d.parquet"),
        "a computed branch projection must refuse")
      // a positional rename refuses (names are the cross-branch
      // identity): branch 1 swaps source/lang positions
      val swapped = spark.read.parquet(epochs(0))
        .union(spark.read.parquet(epochs(1))
          .select($"doc_id", $"lang", $"source", $"n_chars"))
        .groupBy($"lang").agg(count(lit(1)).as("n"))
      assert(swapped.queryExecution.executedPlan.toString
        .contains("d.parquet"),
        "positionally disagreeing branch names must refuse")
    } finally (0 to 2).foreach(i => SummaryRewrite.deregister(s"spec_u$i"))
  }

  test("candidate choice is COST-ordered: among covering artifacts the " +
      "smallest by bytes serves, even when a bigger one has fewer keys " +
      "and an earlier name") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    // a_big: per-document rollup — 1 key, fact-cardinality rows, and a
    // name that sorts FIRST (the old key-count/name order would pick
    // it); z_small: the dashboard summary — 2 keys, tiny
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("doc_id"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/mv_big")
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/mv_small")
    SummaryRewrite.install(spark)
    SummaryRewrite.register("a_big", SummaryRewrite.Summary(
      "documents.parquet", s"$tmp/mv_big", Set("doc_id")))
    SummaryRewrite.register("z_small", SummaryRewrite.Summary(
      "documents.parquet", s"$tmp/mv_small", Set("source", "lang")))
    try {
      // a global aggregate — BOTH artifacts cover (no grouping keys
      // needed), so the choice is pure cost
      val q = docs.agg(count(lit(1)).as("n"),
        sum($"n_chars").as("sc"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("mv_small") && !p.contains("mv_big"),
        s"cost order must pick the smaller artifact:\n$p")
      // and the values are the artifact-free truth
      SummaryRewrite.deregister("a_big")
      SummaryRewrite.deregister("z_small")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("z_small", SummaryRewrite.Summary(
        "documents.parquet", s"$tmp/mv_small", Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect)
    } finally {
      SummaryRewrite.deregister("a_big")
      SummaryRewrite.deregister("z_small")
    }
  }

  test("HYBRID union serving: a branch with no covering artifact " +
      "partializes its fact rows exactly — plain, expression, " +
      "nullable, and hist-measure aggregates, filter pushed into the " +
      "partialized branch, computed grouping composes; sketches " +
      "partialize by inline aggregation, bit-identical") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    // a NULLABLE expression measure: AVG must ride the cntx_ non-null
    // count, and the partializer must replay the same null mask
    val nnSql = "IF(lang = 'en', CAST(NULL AS BIGINT), n_chars)"
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"lang", $"n_chars")
    val epochs = (0 to 1).map { i =>
      val p = s"$tmp/hy$i/d.parquet"
      docsAll.filter($"doc_id" % 2 === i).write.parquet(p)
      p
    }
    // only epoch 0 gets an artifact — epoch 1 is the "not yet
    // summarized" branch for the whole law
    SummaryRewrite.buildSummary(spark, epochs(0),
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/mvhy0", minMaxCols = Seq("n_chars"),
      histCols = Seq("n_chars"), hllCols = Seq("doc_id"),
      exprCols = Seq("ncnn" -> nnSql))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_hy0",
      SummaryRewrite.Summary(s"hy0/d.parquet", s"$tmp/mvhy0",
        Set("source", "lang"), exprs = Map("ncnn" -> nnSql)))
    reg()
    try {
      def un = spark.read.parquet(epochs(0))
        .union(spark.read.parquet(epochs(1)))
      def hybrid(q: => org.apache.spark.sql.DataFrame,
          what: String): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("mvhy0") && p.contains("hy1/d.parquet") &&
          !p.contains("hy0/d.parquet"),
          s"$what did not serve hybrid:\n$p")
        SummaryRewrite.deregister("spec_hy0")
        val expect = q.collect().map(_.toSeq).toSet
        reg()
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact-union plan")
      }
      // plain measures + distinct-over-keys (multiplicity-pure on
      // cnt=1 partializer rows)
      hybrid(un.groupBy($"lang").agg(count(lit(1)).as("n"),
        sum($"n_chars").as("sc"), min($"n_chars").as("lo"),
        max($"n_chars").as("hi"), countDistinct($"source").as("ns")),
        "plain hybrid measures")
      // the nullable EXPRESSION measure: avg/count ride sumx_/cntx_
      // on the artifact and the per-row null mask on the fact branch
      hybrid(un.groupBy($"source").agg(
        avg(expr(nnSql)).as("a"), count(expr(nnSql)).as("c"),
        count(lit(1)).as("n")), "nullable expression measure")
      // a key-only filter pushes into BOTH the artifact scan and the
      // partialized fact scan
      hybrid(un.filter($"source" =!= "src0").groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc")),
        "filtered hybrid")
      // computed grouping composes with the partializer
      hybrid(un.groupBy(upper($"lang")).agg(count(lit(1)).as("n"),
        sum($"n_chars").as("sc")), "computed grouping hybrid")
      // the DISTINCT family over a measure serves hybrid too: the
      // anchor's hist_n_chars explodes while the uncovered branch
      // partializes single-entry per-row maps — the folded multiset is
      // the concatenation's
      hybrid(un.groupBy($"lang").agg(
        countDistinct($"n_chars").as("u"),
        expr("median(n_chars)").as("med"),
        count(lit(1)).as("n")), "hist-measure hybrid")
      // hll REGISTERS partialize by INLINE AGGREGATION — the branch
      // becomes a summary build in-plan, and the register max-merge
      // is value-set pure, so the folded estimate is bit-identical to
      // the direct sketch over the concatenated facts
      hybrid(un.groupBy($"lang")
        .agg(approx_count_distinct($"doc_id").as("u"),
          count(lit(1)).as("n")), "sketch hybrid (inline aggregation)")
    } finally SummaryRewrite.deregister("spec_hy0")
  }

  test("computed GROUPING expressions over a UNION serve — the hoisted " +
      "grouping alias lands inside every branch as one identical " +
      "projection: flat GROUP BY f(key), ROLLUP(f(key)), and a " +
      "user-written identical alias; branches computing DIFFERENT " +
      "expressions at the same position refuse") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"lang", $"n_chars")
    val epochs = (0 to 1).map { i =>
      val p = s"$tmp/cg$i/d.parquet"
      docsAll.filter($"doc_id" % 2 === i).write.parquet(p)
      SummaryRewrite.buildSummary(spark, p, keys = Seq("source", "lang"),
        sumCols = Seq("n_chars"), mvPath = s"$tmp/mvcg$i",
        minMaxCols = Seq("n_chars"))
      p
    }
    SummaryRewrite.install(spark)
    def reg(i: Int): Unit = SummaryRewrite.register(s"spec_cg$i",
      SummaryRewrite.Summary(s"cg$i/d.parquet", s"$tmp/mvcg$i",
        Set("source", "lang")))
    (0 to 1).foreach(reg)
    try {
      def un = spark.read.parquet(epochs(0))
        .union(spark.read.parquet(epochs(1)))
      def served(q: => org.apache.spark.sql.DataFrame,
          what: String): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(Seq("mvcg0", "mvcg1").forall(p.contains) &&
          !p.contains("d.parquet"),
          s"$what did not serve both branches:\n$p")
        (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_cg$i"))
        val expect = q.collect().map(_.toSeq).toSet
        (0 to 1).foreach(reg)
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact-union plan")
      }
      // flat GROUP BY f(key): PullOutGroupingExpressions hoists
      // upper(lang), PushProjectionThroughUnion lands it inside each
      // branch — substAgrees proves the branches identical, the
      // bridge inlines it, and the coarsening serves like any direct
      // GROUP BY f(key)
      served(un.groupBy(upper($"lang")).agg(count(lit(1)).as("n"),
        sum($"n_chars").as("sc")), "flat computed grouping over union")
      // ROLLUP(f(key)): the same shape through the Expand path
      served(un.rollup(upper($"lang"), $"source")
        .agg(count(lit(1)).as("n"), max($"n_chars").as("mx")),
        "rollup computed grouping over union")
      // a USER-written computed alias, identical in both branches
      def unA = spark.read.parquet(epochs(0))
        .select($"source", $"lang", length($"lang").as("ll"), $"n_chars")
        .union(spark.read.parquet(epochs(1))
          .select($"source", $"lang", length($"lang").as("ll"),
            $"n_chars"))
      served(unA.groupBy($"ll").agg(sum($"n_chars").as("sc")),
        "identical user-written branch alias")
      // DIFFERENT expressions at the same position refuse — folding
      // branch 1's `length(lang)+2` into branch 0's `length(lang)+1`
      // derivation would be silently wrong
      val diverged = spark.read.parquet(epochs(0))
        .select($"source", $"lang",
          (length($"lang") + lit(1)).as("ll"), $"n_chars")
        .union(spark.read.parquet(epochs(1))
          .select($"source", $"lang",
            (length($"lang") + lit(2)).as("ll"), $"n_chars"))
        .groupBy($"ll").agg(sum($"n_chars").as("sc"))
      assert(diverged.queryExecution.executedPlan.toString
        .contains("d.parquet"),
        "cross-branch-divergent computed aliases must refuse")
      // ... and the SAME divergence under the native-ROLLUP Expand
      // path: the lattice walk must stand down to the fact union too
      val divergedRollup = spark.read.parquet(epochs(0))
        .select($"source", $"lang",
          (length($"lang") + lit(1)).as("ll"), $"n_chars")
        .union(spark.read.parquet(epochs(1))
          .select($"source", $"lang",
            (length($"lang") + lit(2)).as("ll"), $"n_chars"))
        .rollup($"ll", $"source")
        .agg(count(lit(1)).as("n"), max($"n_chars").as("mx"))
      assert(divergedRollup.queryExecution.executedPlan.toString
        .contains("d.parquet"),
        "cross-branch-divergent aliases must refuse under ROLLUP too")
    } finally (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_cg$i"))
  }

  test("the hybrid partializer reuses the branch's OWN scan: a catalog " +
      "TABLE branch partializes without re-resolving through the " +
      "catalog, and a basePath partitioned-directory branch keeps its " +
      "reader-option-derived partition column — both exactly") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"lang", $"n_chars")
    val covered = s"$tmp/lf0/d.parquet"
    docsAll.filter($"doc_id" % 2 === 0).write.parquet(covered)
    SummaryRewrite.buildSummary(spark, covered,
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/mvlf0", minMaxCols = Seq("n_chars"))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_lf0",
      SummaryRewrite.Summary("lf0/d.parquet", s"$tmp/mvlf0",
        Set("source", "lang")))
    reg()
    spark.sql("DROP TABLE IF EXISTS spec_leaf_docs")
    docsAll.filter($"doc_id" % 2 === 1).write.saveAsTable("spec_leaf_docs")
    try {
      def hybrid(q: => org.apache.spark.sql.DataFrame, factMark: String,
          what: String): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("mvlf0") && p.contains(factMark) &&
          !p.contains("lf0/d.parquet"),
          s"$what did not serve hybrid:\n$p")
        SummaryRewrite.deregister("spec_lf0")
        val expect = q.collect().map(_.toSeq).toSet
        reg()
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact-union plan")
      }
      // a CATALOG-TABLE branch: the partializer grafts projections
      // over a newInstance() of the table's own resolved relation —
      // no spark.table() re-resolution (whose analyzed output is not
      // optimizer-legal and resolves against the CURRENT database)
      hybrid(spark.read.parquet(covered)
        .union(spark.table("spec_leaf_docs"))
        .groupBy($"lang").agg(count(lit(1)).as("n"),
          sum($"n_chars").as("sc"), min($"n_chars").as("lo")),
        "spec_leaf_docs", "catalog-table branch")
      // a basePath partitioned read: `source` exists only through the
      // reader options + directory layout; a fresh option-less re-read
      // of the leaf sub-directory would not even resolve the column.
      // Reusing the branch's own relation keeps it, value-faithfully.
      val partRoot = s"$tmp/lfpart"
      docsAll.filter($"doc_id" % 2 === 1)
        .write.partitionBy("source").parquet(partRoot)
      val srcDirs = new java.io.File(partRoot).listFiles()
        .filter(_.getName.startsWith("source=")).map(_.toString).sorted
      def partBranch = spark.read.option("basePath", partRoot)
        .parquet(srcDirs: _*)
        .select($"doc_id", $"source", $"lang", $"n_chars")
      hybrid(spark.read.parquet(covered).union(partBranch)
        .groupBy($"source").agg(count(lit(1)).as("n"),
          sum($"n_chars").as("sc")), "lfpart",
        "basePath partitioned branch")
    } finally {
      SummaryRewrite.deregister("spec_lf0")
      spark.sql("DROP TABLE IF EXISTS spec_leaf_docs")
    }
  }

  test("layout degrades to ONE sorted file when AQE is disabled " +
      "(repartitionByRange would shatter into shuffle.partitions files)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/noaqe")
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val n = new java.io.File(s"$tmp/noaqe").listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(n === 1,
      s"AQE-off build wrote $n files — the documented fallback is the " +
        "pre-AQE single sorted file, not a tiny-file shatter")
  }

  // ------------------------------------------------ hist_<col> partials

  /** A controlled histogram fixture: planted duplicates, planted
    * NULLs, and an ALL-NULL group (the outer-explode case), plus a
    * second plain measure to prove the null-mask keeps every
    * non-hist partial exact under the explosion. */
  private lazy val histFix: (String, String) = {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val fact = s"$tmp/histfix.parquet"
    import spark.implicits._
    Seq[(String, java.lang.Long, Long)](
      ("a", 1L, 10L), ("a", 1L, 20L), ("a", 2L, 30L), ("a", null, 40L),
      ("b", null, 50L), ("b", null, 60L),
      ("c", 5L, 70L), ("c", 7L, 80L), ("c", 7L, 90L), ("c", 7L, 100L))
      .toDF("g", "m", "w").write.parquet(fact)
    SummaryRewrite.buildSummary(spark, fact, keys = Seq("g"),
      sumCols = Seq("m", "w"), mvPath = s"$tmp/histmv",
      minMaxCols = Seq("m"), histCols = Seq("m"))
    SummaryRewrite.install(spark)
    (fact, s"$tmp/histmv")
  }

  private def withHist[T](body: DataFrame => T): T = {
    val (fact, mvp) = histFix
    SummaryRewrite.register("spec_hist",
      SummaryRewrite.Summary("histfix.parquet", mvp, Set("g")))
    try body(spark.read.parquet(fact))
    finally SummaryRewrite.deregister("spec_hist")
  }

  test("the hist explosion NEVER carries the map column in its Generate " +
      "output — an exploded row carrying the whole histogram costs " +
      "entries × map bytes (the sf0.1 q289 OOM class; the rule runs " +
      "after ColumnPruning, so it must prune itself)") {
    withHist { fact =>
      def assertPruned(q: org.apache.spark.sql.DataFrame,
          what: String): Unit = {
        val gens = q.queryExecution.optimizedPlan.collect {
          case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
        }
        assert(gens.nonEmpty, s"$what: expected a hist explosion")
        gens.foreach { g =>
          assert(!g.output.exists(_.name.startsWith("hist_")),
            s"$what: the Generate output must drop the histogram map: " +
              g.output.map(_.name).mkString(","))
        }
      }
      assertPruned(fact.groupBy($"g").agg(countDistinct($"m").as("dm"),
        count(lit(1)).as("n")), "direct hist explosion")
      assertPruned(fact.rollup($"g").agg(expr("median(m)").as("md"),
        count(lit(1)).as("n")), "rollup hist explosion")
    }
  }

  test("hist build carries the exact value→count map per group, " +
      "sorted by value; NULLs are excluded like count(col)'s") {
    val (fact, _) = histFix
    val hf = SummaryRewrite.summaryFrame(spark.read.parquet(fact),
      Seq("g"), Seq.empty, histCols = Seq("m"))
    val rows = hf.select($"g", map_entries($"hist_m").as("e"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getLong(0), e.getLong(1)))).toMap
    assert(rows("a") === Seq((1L, 2L), (2L, 1L)),
      "group a must histogram {1→2, 2→1} in value order")
    assert(rows("b") === Seq.empty,
      "an all-NULL group must carry an EMPTY histogram, not a null row")
    assert(rows("c") === Seq((5L, 1L), (7L, 3L)))
  }

  test("the distinct-family over a hist measure serves fact-scan-free " +
      "and EXACT, mixed with null-masked plain partials (count(*)/sum/" +
      "min/max/avg stay exact under the explosion; outer explode keeps " +
      "the all-null group)") {
    withHist { fact =>
      def q = fact.groupBy($"g").agg(
        count(lit(1)).as("n"),
        count($"m").as("nm"),
        countDistinct($"m").as("dm"),
        sum_distinct($"m").as("sdm"),
        expr("avg(DISTINCT m)").as("adm"),
        expr("percentile(m, 0.5)").as("med"),
        expr("median(m)").as("med2"),
        approx_count_distinct($"m").as("apx"),
        min($"m").as("mn"), max($"m").as("mx"),
        avg($"m").as("am"), sum($"w").as("sw"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("histmv") && !p.contains("histfix.parquet"),
        s"hist serving did not fire:\n$p")
      assert(p.contains("Generate"),
        "hist serving must explode the histogram map")
      SummaryRewrite.deregister("spec_hist")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hist",
        SummaryRewrite.Summary("histfix.parquet",
          histFix._2, Set("g")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "hist-served results diverged from the fact scan — the " +
          "explosion must replay the exact value→count multiset and " +
          "the mask must feed each plain partial exactly once")
    }
  }

  test("hist-distinct serve SPLITS into a (grouping, value) " +
      "pre-aggregation + plain outer aggregates — no distinct " +
      "AggregateExpression survives (a one-distinct plan would " +
      "instantiate the percentile buffer once per DISTINCT VALUE: the " +
      "q289 allocation storm), and the percentile's frequency is the " +
      "pre-merged Σcount") {
    withHist { fact =>
      val q = fact.groupBy($"g").agg(
        countDistinct($"m").as("dm"),
        expr("percentile(m, 0.5)").as("med"),
        max($"m").as("mx"),
        count(lit(1)).as("n"))
      val opt = q.queryExecution.optimizedPlan
      val aggs = opt.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(aggs.size === 2,
        s"expected the two-level split (outer + value pre-agg), got " +
          s"${aggs.size} Aggregates:\n$opt")
      val distincts = aggs.flatMap(_.aggregateExpressions).flatMap(_.collect {
        case ae: org.apache.spark.sql.catalyst.expressions.aggregate
            .AggregateExpression if ae.isDistinct => ae
      })
      assert(distincts.isEmpty,
        s"no distinct AggregateExpression may survive the split: " +
          distincts.mkString(", "))
      // the inner aggregate groups by (g, value) and the percentile
      // lives ONLY in the outer one
      val inner = aggs.last
      assert(inner.groupingExpressions.size === 2,
        s"inner pre-aggregation must group by (grouping, value): " +
          inner.groupingExpressions.mkString(", "))
      assert(!inner.aggregateExpressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.aggregate
            .Percentile => true
        case _ => false
      }), "the percentile must not partial-evaluate per distinct value")
    }
  }

  test("hist serving under a KEY filter, in composed glue, and with " +
      "FILTER clauses over keys") {
    withHist { fact =>
      def q = fact.filter($"g" =!= "b").groupBy($"g").agg(
        (countDistinct($"m") * lit(100) / count(lit(1))).as("upermille"),
        expr("percentile(m, 0.9) FILTER (WHERE g = 'a')").as("p90a"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("histmv") && !p.contains("histfix.parquet"),
        s"composed/filtered hist serving did not fire:\n$p")
      SummaryRewrite.deregister("spec_hist")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hist",
        SummaryRewrite.Summary("histfix.parquet",
          histFix._2, Set("g")))
      assert(q.collect().map(_.toSeq).toSet === expect)
    }
  }

  test("hist refusals: two exploded measures in one query; an artifact " +
      "without the histogram; a non-derivable companion aggregate") {
    withHist { fact =>
      // w carries no hist partial: pairing its distinct with m's
      // would need two explosions — refuse, the fact answers
      val two = fact.groupBy($"g")
        .agg(countDistinct($"m").as("dm"), countDistinct($"w").as("dw"))
      assert(two.queryExecution.executedPlan.toString
        .contains("histfix.parquet"),
        "a second distinct measure without its own servable path must " +
          "refuse")
      // sum over a FLOAT measure stays refused in hist mode too
      val fl = fact.groupBy($"g")
        .agg(countDistinct($"m").as("dm"),
          sum($"w" * lit(0.5)).as("bad"))
      assert(fl.queryExecution.executedPlan.toString
        .contains("histfix.parquet"),
        "a non-derivable companion aggregate must refuse the whole query")
    }
    // plain artifact (no hist_): the distinct-family keeps refusing
    withSummary {
      val q = docs.groupBy($"source").agg(countDistinct($"n_chars").as("d"))
      assert(!usesMv(q),
        "distinct over a measure must refuse on a hist-less artifact")
    }
  }

  test("hist folds: rollupSummary derives the coarser histogram " +
      "exactly; mergeDelta(old, delta) equals the full rebuild; audit " +
      "covers hist partials (a drifted map surfaces)") {
    val (fact, _) = histFix
    val f = spark.read.parquet(fact)
    val finer = SummaryRewrite.summaryFrame(f, Seq("g", "w"), Seq("m"),
      histCols = Seq("m"))
    val rolled = SummaryRewrite.rollupSummary(finer, Seq("g"),
      Seq("m")).select($"g", map_entries($"hist_m").as("e"))
    val direct = SummaryRewrite.summaryFrame(f, Seq("g"), Seq("m"),
      histCols = Seq("m")).select($"g", map_entries($"hist_m").as("e"))
    assert(rolled.collect().map(_.toSeq).toSet ===
      direct.collect().map(_.toSeq).toSet,
      "the histogram fold must equal the from-scratch build")
    // store lifecycle: first half, then merge the second half
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val store = s"$tmp/histstore"
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(f.filter($"w" <= 50), Seq("g"),
        Seq("m"), histCols = Seq("m")), store)
    SummaryRewrite.mergeDelta(spark, store, f.filter($"w" > 50),
      Seq("g"), Seq("m"))
    val sum = SummaryRewrite.Summary("histfix.parquet", "",
      Set("g"), store = Some(store))
    assert(SummaryRewrite.auditSummaryFrame(spark, f, sum,
      Seq("m")).count() === 0L,
      "fold(old, partial(delta)) must audit clean against the fact")
    // a drifted histogram surfaces: doctor one map entry
    val latest = graft.operators.IndexOps.readSnapshot(spark, store)
    val doctored = latest.withColumn("hist_m",
      when($"g" === "a", map(lit(1L), lit(99L)))
        .otherwise($"hist_m"))
    val v = graft.operators.IndexOps.writeSnapshot(doctored, store)
    assert(SummaryRewrite.auditSummaryFrame(spark, f, sum,
      Seq("m")).count() > 0L,
      s"a doctored hist partial (snap=$v) must surface in the audit")
  }

  test("hist serving over a UNION of registered facts: one Generate " +
      "above the union folds the per-epoch histograms (count-sum map " +
      "monoid); an epoch without the histogram partializes single-" +
      "entry per-row maps (hybrid, exact)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val (fact, _) = histFix
    val f = spark.read.parquet(fact)
    (0 to 1).foreach { i =>
      // w is 10..100 in tens: split epochs on the tens digit's parity
      f.filter(($"w" / 10) % 2 === i).write
        .parquet(s"$tmp/hep$i/hf.parquet")
    }
    // epoch 0 carries the histogram; epoch 1 gets TWO artifacts — one
    // without (registered first by name) and one with
    SummaryRewrite.buildSummary(spark, s"$tmp/hep0/hf.parquet",
      keys = Seq("g"), sumCols = Seq("m"), mvPath = s"$tmp/hu0",
      histCols = Seq("m"))
    SummaryRewrite.buildSummary(spark, s"$tmp/hep1/hf.parquet",
      keys = Seq("g"), sumCols = Seq("m"), mvPath = s"$tmp/hu1plain")
    SummaryRewrite.buildSummary(spark, s"$tmp/hep1/hf.parquet",
      keys = Seq("g"), sumCols = Seq("m"), mvPath = s"$tmp/hu1hist",
      histCols = Seq("m"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_hu0", SummaryRewrite.Summary(
      "hep0/hf.parquet", s"$tmp/hu0", Set("g")))
    SummaryRewrite.register("spec_hu1a", SummaryRewrite.Summary(
      "hep1/hf.parquet", s"$tmp/hu1plain", Set("g")))
    try {
      def q = spark.read.parquet(s"$tmp/hep0/hf.parquet")
        .union(spark.read.parquet(s"$tmp/hep1/hf.parquet"))
        .groupBy($"g").agg(
          count(lit(1)).as("n"),
          countDistinct($"m").as("dm"),
          expr("percentile(m, 0.5)").as("med"),
          sum($"m").as("sm"))
      // epoch 1's only artifact lacks hist_m: the branch PARTIALIZES
      // (single-entry per-row maps) while epoch 0's histogram artifact
      // serves — hybrid, exact
      val ph = q.queryExecution.executedPlan.toString
      assert(ph.contains("hu0") && ph.contains("hep1/hf.parquet") &&
        !ph.contains("hep0/hf.parquet"),
        s"a hist-less epoch must partialize hybrid:\n$ph")
      val expectDirect = {
        Seq("spec_hu0", "spec_hu1a").foreach(SummaryRewrite.deregister)
        val e = q.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_hu0", SummaryRewrite.Summary(
          "hep0/hf.parquet", s"$tmp/hu0", Set("g")))
        SummaryRewrite.register("spec_hu1a", SummaryRewrite.Summary(
          "hep1/hf.parquet", s"$tmp/hu1plain", Set("g")))
        e
      }
      assert(q.collect().map(_.toSeq).toSet === expectDirect,
        "hybrid hist serving diverged from the fact-union scan")
      SummaryRewrite.register("spec_hu1b", SummaryRewrite.Summary(
        "hep1/hf.parquet", s"$tmp/hu1hist", Set("g")))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("hu0") && p.contains("hu1hist") &&
        !p.contains("hf.parquet"),
        s"union hist serving did not pick the hist-carrying epoch-1 " +
          s"artifact:\n$p")
      assert(q.collect().map(_.toSeq).toSet === expectDirect,
        "union hist serving diverged from the fact-union scan")
    } finally Seq("spec_hu0", "spec_hu1a", "spec_hu1b")
      .foreach(SummaryRewrite.deregister)
  }

  test("hist serving under native ROLLUP/CUBE: exact percentile/median, " +
      "min/max, and approx_count_distinct over a hist measure serve per " +
      "grouping set, partials first-entry-masked; and the same under " +
      "ROLLUP over a UNION of epochs") {
    withHist { fact =>
      def q = fact.rollup($"g").agg(
        count(lit(1)).as("n"),
        expr("percentile(m, 0.5)").as("med"),
        expr("median(m)").as("med2"),
        min($"m").as("mn"), max($"m").as("mx"),
        approx_count_distinct($"m").as("apx"),
        sum($"w").as("sw"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("histmv") && !p.contains("histfix.parquet"),
        s"rollup hist serving did not fire:\n$p")
      assert(p.contains("Expand") && p.contains("Generate"),
        "rollup hist serving must keep the Expand AND explode the map")
      SummaryRewrite.deregister("spec_hist")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hist",
        SummaryRewrite.Summary("histfix.parquet", histFix._2, Set("g")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "rollup hist serving diverged from the fact rollup — per-set " +
          "multisets or the first-entry mask are wrong")
      // min/max/percentile over the OTHER measure (w, no hist partial,
      // no min_/max_) must refuse the whole rollup
      val bad = fact.rollup($"g")
        .agg(expr("percentile(w, 0.5)").as("mw"))
      assert(bad.queryExecution.executedPlan.toString
        .contains("histfix.parquet"),
        "a non-hist measure percentile under rollup must refuse")
    }
    // ROLLUP over a UNION of epochs, hist measure served across both
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val (fct, _) = histFix
    val f = spark.read.parquet(fct)
    (0 to 1).foreach { i =>
      f.filter(($"w" / 10) % 2 === i).write
        .parquet(s"$tmp/hrep$i/hr.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/hrep$i/hr.parquet",
        keys = Seq("g"), sumCols = Seq("m"), mvPath = s"$tmp/hru$i",
        histCols = Seq("m"))
      SummaryRewrite.register(s"spec_hru$i", SummaryRewrite.Summary(
        s"hrep$i/hr.parquet", s"$tmp/hru$i", Set("g")))
    }
    try {
      def q = spark.read.parquet(s"$tmp/hrep0/hr.parquet")
        .union(spark.read.parquet(s"$tmp/hrep1/hr.parquet"))
        .rollup($"g").agg(
          count(lit(1)).as("n"),
          expr("percentile(m, 0.5)").as("med"),
          max($"m").as("mx"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("hru0") && p.contains("hru1") &&
        !p.contains("hr.parquet"),
        s"rollup-over-union hist serving did not fire:\n$p")
      val expect = {
        SummaryRewrite.deregister("spec_hru0")
        val e = q.collect().map(_.toSeq).toSet
        SummaryRewrite.register("spec_hru0", SummaryRewrite.Summary(
          "hrep0/hr.parquet", s"$tmp/hru0", Set("g")))
        e
      }
      assert(q.collect().map(_.toSeq).toSet === expect,
        "rollup-over-union hist serving diverged — per-epoch histograms " +
          "must fold per grouping set")
    } finally (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_hru$i"))
  }

  test("the EXACT distinct family serves under native ROLLUP/CUBE from " +
      "hist partials: count/sum/avg DISTINCT over a non-key measure " +
      "beside plain totals, per grouping set across the full lattice; " +
      "filtered distinct and grouping BY the measure refuse") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val fact = s"$tmp/rud.parquet"
    spark.read.parquet(s"$dir/documents.parquet")
      .select($"source", $"lang", $"n_chars").write.parquet(fact)
    SummaryRewrite.buildSummary(spark, fact,
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/rudmv", histCols = Seq("n_chars"))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_rud",
      SummaryRewrite.Summary("rud.parquet", s"$tmp/rudmv",
        Set("source", "lang")))
    reg()
    try {
      val docs = spark.read.parquet(fact)
      def served(q: => org.apache.spark.sql.DataFrame,
          what: String): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("rudmv") && !p.contains("rud.parquet"),
          s"$what did not serve:\n$p")
        assert(p.contains("Expand") && p.contains("Generate"),
          s"$what must keep the Expand above the histogram explosion")
        SummaryRewrite.deregister("spec_rud")
        val expect = q.collect().map(_.toSeq).toSet
        reg()
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact lattice")
      }
      // the full CUBE lattice (4 grouping sets), distinct beside plain
      served(docs.cube($"source", $"lang").agg(
        countDistinct($"n_chars").as("u"),
        sum_distinct($"n_chars").as("su"),
        expr("avg(DISTINCT n_chars)").as("au"),
        count(lit(1)).as("n"), sum($"n_chars").as("s")),
        "cube distinct family")
      // ROLLUP with the whole hist family in one row: distinct +
      // exact median + min/max + sketch, all off one explosion
      served(docs.rollup($"source").agg(
        countDistinct($"n_chars").as("u"),
        expr("median(n_chars)").as("med"),
        min($"n_chars").as("mn"),
        approx_count_distinct($"n_chars").as("apx"),
        count(lit(1)).as("n")), "rollup distinct + hist family")
      // refusal: a FILTER clause on the distinct aggregate is not
      // derivable from the histogram (per-row predicates are gone)
      val filtered = docs.rollup($"source").agg(
        expr("count(DISTINCT n_chars) FILTER (WHERE lang = 'en')")
          .as("u"))
      assert(filtered.queryExecution.executedPlan.toString
        .contains("rud.parquet"),
        "filtered distinct under rollup must refuse")
      // refusal: grouping BY the hist measure itself — n_chars is not
      // a key, entry values cannot source a grouping position here
      val byMeasure = docs.rollup($"n_chars")
        .agg(count(lit(1)).as("n"))
      assert(byMeasure.queryExecution.executedPlan.toString
        .contains("rud.parquet"),
        "grouping by the measure must refuse")
    } finally SummaryRewrite.deregister("spec_rud")
  }

  test("TWO-histogram serving: median/distinct over TWO measures in one " +
      "aggregate serve via per-measure explosions JOINED on null-safe " +
      "grouping values — exact incl. NULL group keys and the global " +
      "(group-less) row; composed glue across the two refuses") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    // g has a NULL key group: the join must be null-safe or the whole
    // null group silently drops
    val fact = s"$tmp/twohist.parquet"
    Seq(
      (Option("a"), 1L, 10L), (Option("a"), 2L, 10L),
      (Option("a"), 2L, 30L), (Option("b"), 5L, 70L),
      (Option.empty[String], 9L, 90L), (Option.empty[String], 9L, 20L))
      .toDF("g", "m", "w").write.parquet(fact)
    SummaryRewrite.buildSummary(spark, fact, keys = Seq("g"),
      sumCols = Seq("m", "w"), mvPath = s"$tmp/twohistmv",
      histCols = Seq("m", "w"))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_twohist",
      SummaryRewrite.Summary("twohist.parquet", s"$tmp/twohistmv",
        Set("g")))
    reg()
    try {
      val f = spark.read.parquet(fact)
      def served(q: => org.apache.spark.sql.DataFrame,
          what: String): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("twohistmv") && !p.contains("twohist.parquet"),
          s"$what did not serve:\n$p")
        assert("Generate".r.findAllIn(p).size >= 2,
          s"$what must run one explosion PER measure:\n$p")
        SummaryRewrite.deregister("spec_twohist")
        val expect = q.collect().map(_.toSeq).toSet
        reg()
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact scan")
      }
      // the two-median dashboard row, plus one measure's distinct
      // count and plain totals — grouped, with a NULL key group
      served(f.groupBy($"g").agg(
        expr("median(m)").as("med_m"), expr("median(w)").as("med_w"),
        countDistinct($"m").as("um"),
        count(lit(1)).as("n"), sum($"m").as("sm")),
        "grouped two-hist row")
      // the global row: single-row sides, Cross-joined — a bijection
      served(f.agg(expr("median(m)").as("med_m"),
        expr("median(w)").as("med_w"), count(lit(1)).as("n")),
        "global two-hist row")
      // a key-only filter pushes onto BOTH artifact instances
      served(f.filter($"g" =!= "b").groupBy($"g").agg(
        expr("median(m)").as("med_m"), expr("median(w)").as("med_w")),
        "filtered two-hist row")
      // composed glue ACROSS the two measures: each embedded
      // aggregate computes on its own side and the glue re-evaluates
      // above the join — median(m)+median(w) in ONE output serves
      served(f.groupBy($"g")
        .agg((expr("median(m)") + expr("median(w)")).as("mm"),
          count(lit(1)).as("n")),
        "cross-measure composed glue")
      // glue with a bare non-aggregate reference (a grouping column
      // in the arithmetic) cannot re-evaluate above the join — refuse
      val bareGlue = f.groupBy($"g")
        .agg((expr("median(m)") + expr("median(w)") +
          length($"g").cast("double")).as("mm"))
      assert(bareGlue.queryExecution.executedPlan.toString
        .contains("twohist.parquet"),
        "glue with bare references must refuse")
      // TWO distinct MEASURES rewrite into RewriteDistinctAggregates'
      // double aggregation with two hist-value grouping positions —
      // served by the multi-distinct SPLIT: the proven single-measure
      // double-agg rewrite runs once per measure over only that
      // side's grouping-set projections, and the per-measure outer
      // aggregates join back on null-safe grouping values
      served(f.groupBy($"g").agg(
        countDistinct($"m").as("um"), countDistinct($"w").as("uw"),
        expr("median(m)").as("med_m"), expr("median(w)").as("med_w"),
        count(lit(1)).as("n"), sum($"m").as("sm")),
        "two-distinct-measure split")
      // ... and the global (group-less) uniques pair
      served(f.agg(countDistinct($"m").as("um"),
        countDistinct($"w").as("uw")),
        "global two-distinct split")
    } finally SummaryRewrite.deregister("spec_twohist")
  }

  test("TWO-histogram composition corners: median(x), median(y) under " +
      "native ROLLUP/CUBE serve via per-measure lattice sides joined " +
      "on grouping values (grouping_id included); two DISTINCT " +
      "measures over a UNION of epochs serve through the split; " +
      "composed GLUE across two measures under ROLLUP serves by " +
      "re-evaluation above the join; one aggregate spanning two " +
      "measures refuses") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val rows = Seq(
      (Option("a"), 1L, 10L), (Option("a"), 2L, 10L),
      (Option("a"), 2L, 30L), (Option("b"), 5L, 70L),
      (Option.empty[String], 9L, 90L), (Option.empty[String], 9L, 20L))
    (0 to 1).foreach { i =>
      rows.zipWithIndex.filter(_._2 % 2 == i).map(_._1)
        .toDF("g", "m", "w").write.parquet(s"$tmp/th$i/f.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/th$i/f.parquet",
        keys = Seq("g"), sumCols = Seq("m", "w"),
        mvPath = s"$tmp/thmv$i", histCols = Seq("m", "w"))
    }
    SummaryRewrite.install(spark)
    def reg(): Unit = (0 to 1).foreach(i =>
      SummaryRewrite.register(s"spec_th$i", SummaryRewrite.Summary(
        s"th$i/f.parquet", s"$tmp/thmv$i", Set("g"))))
    reg()
    try {
      def f0 = spark.read.parquet(s"$tmp/th0/f.parquet")
      def un = f0.union(spark.read.parquet(s"$tmp/th1/f.parquet"))
      def served(q: => org.apache.spark.sql.DataFrame, nGen: Int,
          what: String): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("thmv") && !p.contains("f.parquet"),
          s"$what did not serve:\n$p")
        assert("Generate".r.findAllIn(p).size >= nGen,
          s"$what must run one explosion per measure (side)")
        (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_th$i"))
        val expect = q.collect().map(_.toSeq).toSet
        reg()
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact plan")
      }
      // the two-median pivot WITH subtotals: per-measure lattice
      // sides join on (g, grouping_id) null-safely — every grouping
      // SET row pairs with its twin, the NULL key group included
      served(f0.cube($"g").agg(
        expr("median(m)").as("med_m"), expr("median(w)").as("med_w"),
        count(lit(1)).as("n")), 2, "cube two medians")
      served(f0.rollup($"g").agg(
        expr("median(m)").as("med_m"),
        countDistinct($"w").as("uw"),
        min($"m").as("mn")), 2, "rollup median + other-measure distinct")
      // two DISTINCT measures over a UNION of epochs: the double
      // aggregation splits per measure and each side's Expand rewrite
      // unions its own per-branch artifact scans
      served(un.groupBy($"g").agg(
        countDistinct($"m").as("um"), countDistinct($"w").as("uw"),
        count(lit(1)).as("n")), 2, "union two-distinct split")
      // composed glue ACROSS two measures under the lattice: each
      // embedded median rides its measure's side, the Add re-evaluates
      // above the join — subtotal rows included
      served(f0.rollup($"g")
        .agg((expr("median(m)") + expr("median(w)")).as("mm"),
          count(lit(1)).as("n")), 2, "rollup cross-measure glue")
      // ONE aggregate whose argument spans two measures has no side —
      // the split must stand down to the fact, never guess
      val fused = f0.rollup($"g")
        .agg(min($"m" + $"w").as("mn"), max($"m").as("mx"),
          max($"w").as("mw"))
      assert(fused.queryExecution.executedPlan.toString
        .contains("f.parquet"),
        "an aggregate argument spanning two measures must refuse")
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_th$i"))
  }

  test("the GROUPING-SETS UNIQUES-PAIR MATRIX and double-aggregation " +
      "GLUE: ROLLUP/CUBE × two count(DISTINCT)s serves by flattening " +
      "the stacked Expands and splitting per measure; count(DISTINCT " +
      "x) − count(DISTINCT y) in ONE output re-evaluates above the " +
      "join, flat and over a UNION of epochs; the side join is pinned " +
      "BROADCAST; a cross-measure distinct expression refuses") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val rows = Seq(
      (Option("a"), 1L, 10L), (Option("a"), 2L, 10L),
      (Option("a"), 2L, 30L), (Option("b"), 5L, 70L),
      (Option("b"), 5L, 10L), (Option.empty[String], 9L, 90L),
      (Option.empty[String], 9L, 20L), (Option.empty[String], 3L, 20L))
    (0 to 1).foreach { i =>
      rows.zipWithIndex.filter(_._2 % 2 == i).map(_._1)
        .toDF("g", "m", "w").write.parquet(s"$tmp/up$i/f.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/up$i/f.parquet",
        keys = Seq("g"), sumCols = Seq("m", "w"),
        mvPath = s"$tmp/upmv$i", histCols = Seq("m", "w"))
    }
    SummaryRewrite.install(spark)
    def reg(): Unit = (0 to 1).foreach(i =>
      SummaryRewrite.register(s"spec_up$i", SummaryRewrite.Summary(
        s"up$i/f.parquet", s"$tmp/upmv$i", Set("g"))))
    reg()
    try {
      def f0 = spark.read.parquet(s"$tmp/up0/f.parquet")
      def un = f0.union(spark.read.parquet(s"$tmp/up1/f.parquet"))
      def served(q: => org.apache.spark.sql.DataFrame, nGen: Int,
          what: String): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("upmv") && !p.contains("f.parquet"),
          s"$what did not serve:\n$p")
        assert("Generate".r.findAllIn(p).size >= nGen,
          s"$what must run one explosion per measure side")
        assert(p.contains("BroadcastHashJoin"),
          s"$what: the per-measure side join must be pinned BROADCAST " +
            s"(summary-group-sized by construction):\n$p")
        (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_up$i"))
        val expect = q.collect().map(_.toSeq).toSet
        reg()
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact plan")
      }
      // the uniques-pair matrix: two distinct measures + both medians
      // + totals under native ROLLUP — the stacked Expands flatten to
      // one (lattice sets × distinct groups) Expand, the split prunes
      // composed projections by discriminator, the lattice survives
      // on every side
      served(f0.rollup($"g").agg(
        countDistinct($"m").as("um"), countDistinct($"w").as("uw"),
        expr("median(m)").as("med_m"), expr("median(w)").as("med_w"),
        count(lit(1)).as("n"), sum($"w").as("sw")), 2,
        "rollup uniques-pair matrix")
      served(f0.cube($"g").agg(
        countDistinct($"m").as("um"), countDistinct($"w").as("uw")),
        2, "cube uniques pair")
      // double-aggregation GLUE: the spanning output splits into its
      // embedded aggregates, each rides its measure's side, the
      // Subtract re-evaluates above the join
      served(f0.groupBy($"g").agg(
        (countDistinct($"m") - countDistinct($"w")).as("du"),
        count(lit(1)).as("n")), 2, "flat double-agg glue")
      // ... and over a UNION of epochs (each side's Expand rewrite
      // unions its own per-branch artifact scans)
      served(un.groupBy($"g").agg(
        (countDistinct($"m") - countDistinct($"w")).as("du"),
        count(lit(1)).as("n")), 2, "union double-agg glue")
      // glue under the lattice too: subtotal rows pair by grouping_id
      served(f0.rollup($"g").agg(
        (countDistinct($"m") - countDistinct($"w")).as("du"),
        count(lit(1)).as("n")), 2, "rollup double-agg glue")
      // the FULL matrix composition: lattice × distinct pair × UNION
      // of epochs — the composed Expand's child is the union, each
      // measure side's Expand rewrite unions its own per-branch scans
      served(un.rollup($"g").agg(
        countDistinct($"m").as("um"), countDistinct($"w").as("uw"),
        count(lit(1)).as("n")), 2, "rollup uniques pair over a union")
      // a distinct over an expression SPANNING both measures has no
      // per-measure side — the whole rewrite stands down to the fact
      val fused = f0.rollup($"g").agg(
        countDistinct($"m" + $"w").as("umix"),
        countDistinct($"w").as("uw"))
      assert(fused.queryExecution.executedPlan.toString
        .contains("f.parquet"),
        "a cross-measure distinct expression must refuse")
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_up$i"))
  }

  test("hist serving through the star join: distinct/percentile over " +
      "the fact measure serve with the explosion UNDER the join; dim " +
      "groupings and dim distinct pass-throughs stay exact") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    // orders fact keyed by custkey with an o_orderkey histogram;
    // customer dim hops to nation
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/histstar", histCols = Seq("o_orderkey"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_histstar", SummaryRewrite.Summary(
      "orders.parquet", s"$tmp/histstar", Set("o_custkey")))
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      def customer = graft.Tables.load(spark, dir, "customer")
      // ONE distinct group only: a second distinct column would be
      // expanded by RewriteDistinctAggregates upstream of the rule
      // (the documented double-aggregation limit)
      def q = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey").agg(
          count(lit(1)).as("n"),
          countDistinct($"o_orderkey").as("uo"),
          expr("percentile(o_orderkey, 0.5)").as("med"),
          min($"c_mktsegment").as("seg0"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("histstar") && !p.contains("orders.parquet") &&
        p.contains("Generate"),
        s"star-join hist serving did not fire:\n$p")
      SummaryRewrite.deregister("spec_histstar")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_histstar", SummaryRewrite.Summary(
        "orders.parquet", s"$tmp/histstar", Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "star-join hist serving diverged from the fact join")
    } finally SummaryRewrite.deregister("spec_histstar")
  }

  test("TWO hist measures THROUGH the star peel: median(x), median(y) " +
      "grouped by a dim attribute serve via per-measure join trees " +
      "over fresh dim copies, sides joined back BROADCAST; composed " +
      "glue re-evaluates above the side join; a dim plan minting its " +
      "own exprIds refuses the copy") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    // orders fact keyed by custkey with TWO histograms; customer dim
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/mhstar",
      histCols = Seq("o_orderkey", "o_totalprice"))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_mhstar",
      SummaryRewrite.Summary("orders.parquet", s"$tmp/mhstar",
        Set("o_custkey")))
    reg()
    try {
      def orders = graft.Tables.load(spark, dir, "orders")
      def customer = graft.Tables.load(spark, dir, "customer")
      def served(q: => org.apache.spark.sql.DataFrame,
          what: String, nGen: Int = 2): Unit = {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("mhstar") && !p.contains("orders.parquet"),
          s"$what did not serve:\n$p")
        assert("Generate".r.findAllIn(p).size >= nGen,
          s"$what must run one explosion per exploded measure")
        if (nGen >= 2) assert(p.contains("BroadcastHashJoin"),
          s"$what: the side join must be pinned BROADCAST:\n$p")
        SummaryRewrite.deregister("spec_mhstar")
        val expect = q.collect().map(_.toSeq).toSet
        reg()
        assert(q.collect().map(_.toSeq).toSet === expect,
          s"$what diverged from the fact join")
      }
      // two medians per dim attribute — each measure's explosion rides
      // its own join tree; the dim pass-through (min) and count stay
      // on side 0 with the ORIGINAL dim instance
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey").agg(
          expr("percentile(o_orderkey, 0.5)").as("med_ok"),
          expr("percentile(o_totalprice, 0.5)").as("med_tp"),
          count(lit(1)).as("n"),
          min($"c_mktsegment").as("seg0")),
        "two medians through the peel")
      // composed glue across the two measures through the peel
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          (expr("percentile(o_orderkey, 0.5)") +
            expr("percentile(o_totalprice, 0.5)")).as("mm"),
          count(lit(1)).as("n")),
        "cross-measure glue through the peel")
      // a dim side minting its own exprIds SERVES via the re-minting
      // fresh copy (round 16): an AGGREGATE dim (the pre-rolled
      // calendar shape), a WINDOW dim, and a COMPUTED dim projection
      // each get fresh Alias ids per side — deterministic, so both
      // copies compute value-identical rows and the join-back stays a
      // bijection; value-exactness asserted against the fact join
      val aggDim = customer.groupBy($"c_custkey")
        .agg(max($"c_nationkey").as("nk1"))
      served(orders
        .join(aggDim, col("o_custkey") === col("c_custkey"))
        .groupBy($"nk1").agg(
          expr("percentile(o_orderkey, 0.5)").as("med_ok"),
          expr("percentile(o_totalprice, 0.5)").as("med_tp"),
          count(lit(1)).as("n")),
        "two medians through an AGGREGATE dim")
      val computedDim = customer.select($"c_custkey",
        concat($"c_mktsegment", lit("!")).as("seg2"))
      served(orders
        .join(computedDim, col("o_custkey") === col("c_custkey"))
        .groupBy($"seg2").agg(
          expr("percentile(o_orderkey, 0.5)").as("med_ok"),
          expr("percentile(o_totalprice, 0.5)").as("med_tp"),
          count(lit(1)).as("n")),
        "two medians through a COMPUTED dim projection")
      import org.apache.spark.sql.expressions.{Window => W}
      val winDim = customer.select($"c_custkey", $"c_nationkey",
        row_number().over(W.partitionBy($"c_nationkey")
          .orderBy($"c_custkey")).as("rk"))
        .filter($"rk" <= 1000000)
      served(orders
        .join(winDim, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey").agg(
          expr("percentile(o_orderkey, 0.5)").as("med_ok"),
          expr("percentile(o_totalprice, 0.5)").as("med_tp"),
          count(lit(1)).as("n")),
        "two medians through a WINDOW dim")
      // genuinely unsafe shapes still refuse: a NONDETERMINISTIC dim
      // expression would compute different rows per copy — the sides'
      // group sets could diverge, so the rewrite stands down.
      // (rand() > tiny, not rand() >= 0 — the optimizer proves the
      // latter always-true and deletes the filter entirely)
      val nondetDim = customer.select($"c_custkey", $"c_mktsegment")
        .filter(rand() > 1e-9)
      val refused = orders
        .join(nondetDim, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          expr("percentile(o_orderkey, 0.5)").as("med_ok"),
          expr("percentile(o_totalprice, 0.5)").as("med_tp"))
      assert(refused.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a nondeterministic dim must refuse the side copy")
      // the UNIQUES-PER-DIM-ATTRIBUTE dashboard — TWO count(DISTINCT
      // fact-measure)s grouped by a dim attribute: the double
      // aggregation's Expand sits over the JOIN; the per-measure split
      // rebuilds one join tree per side (explosion above the rebuilt
      // join — row-equivalent to under it), dim grouping positions
      // ride verbatim, the other measure's position nulls out per side
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"),
          count(lit(1)).as("n")),
        "uniques pair per dim attribute")
      // cross-measure glue through the double-agg-over-join shape
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey").agg(
          (countDistinct($"o_orderkey") -
            countDistinct($"o_totalprice")).as("du"),
          count(lit(1)).as("n")),
        "distinct-pair glue per dim attribute")
      // ... and WITH subtotal rows: lattice × distinct pair × star —
      // the composed Expand stacks over the join and both peels apply
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .rollup($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"),
          count(lit(1)).as("n")),
        "rollup uniques pair per dim attribute")
      // SNOWFLAKE under the expanded shape: the dim TOWER peels level
      // by level (orders → customer → nation), the dim-dim link rides
      // as a residual conjunct, both measure sides rebuild the whole
      // tower (side 1 over a fresh-id copy of the full join child)
      def nation = graft.Tables.load(spark, dir, "nation")
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(nation, col("c_nationkey") === col("n_nationkey"))
        .groupBy($"n_name").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"),
          count(lit(1)).as("n")),
        "uniques pair through a snowflake")
      // DIM aggregates beside the fact pair in the expanded shape:
      // a dim distinct is an inner GROUPING position (kept verbatim);
      // min/sum/avg over a dim column ride the key-expression
      // machinery — the dim value is constant per joined (summary
      // row, dim match) and cnt replays exactly the fact rows the
      // collapse removed, each of which joined the same dim rows
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"c_nationkey").as("un"),
          countDistinct($"o_orderkey").as("uo"),
          count(lit(1)).as("n")),
        "dim distinct beside a fact distinct", nGen = 1)
      served(orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          min($"c_acctbal").as("mn_bal"),
          sum($"c_nationkey").as("sum_nk"),
          avg($"c_nationkey").as("avg_nk"),
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut")),
        "dim min/sum/avg beside the fact pair")
      // DECIMAL dim measures beside the fact pair (round 16): decimal
      // sums are exact under reassociation — Σ cnt·f rides a LOSSLESS
      // product type (21+p ≤ 38) and casts back to the original Sum
      // type; avg mirrors Spark's own decimal-Average division shape.
      // The dim carries the decimal as a computed projection, so this
      // also composes with the re-minting fresh copy.
      val decDim = customer.select($"c_custkey", $"c_mktsegment",
        $"c_acctbal".cast("decimal(12,2)").as("bal"))
      served(orders
        .join(decDim, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          sum($"bal").as("sum_bal"),
          avg($"bal").as("avg_bal"),
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut")),
        "decimal dim sum/avg beside the fact pair")
      // FLOAT dim sums keep refusing (the engine's ulp discipline:
      // float addition is not associative, a reassociated sum could
      // differ from the fact scan in the last ulp)
      val floatRefused = orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          sum($"c_acctbal").as("s"),
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"))
      assert(floatRefused.queryExecution.executedPlan.toString
        .contains("orders.parquet"),
        "a float dim sum must refuse to the fact")
    } finally SummaryRewrite.deregister("spec_mhstar")
  }

  test("TWO hist measures through the star peel over a UNION fact: " +
      "median(x), median(y) per dim attribute over per-epoch artifacts " +
      "— each side unions its per-branch artifact instances with ONE " +
      "explosion over the union; a branch without a carrying artifact " +
      "refuses (no hybrid: exact histograms cannot be partialized " +
      "fact-scan-free)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    def reg(i: Int): Unit = SummaryRewrite.register(s"spec_mhu$i",
      SummaryRewrite.Summary(s"mhep$i/o.parquet", s"$tmp/mhu$i",
        Set("o_custkey")))
    (0 to 1).foreach { i =>
      orders.filter($"o_orderkey" % 2 === i)
        .write.parquet(s"$tmp/mhep$i/o.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/mhep$i/o.parquet",
        keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
        mvPath = s"$tmp/mhu$i",
        histCols = Seq("o_orderkey", "o_totalprice"))
      reg(i)
    }
    SummaryRewrite.install(spark)
    try {
      def customer = graft.Tables.load(spark, dir, "customer")
      def q = spark.read.parquet(s"$tmp/mhep0/o.parquet")
        .union(spark.read.parquet(s"$tmp/mhep1/o.parquet"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_mktsegment").agg(
          expr("percentile(o_orderkey, 0.5)").as("med_ok"),
          expr("percentile(o_totalprice, 0.5)").as("med_tp"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("mhu0") && p.contains("mhu1") &&
        !p.contains("o.parquet"),
        s"two-hist star over a union fact did not serve:\n$p")
      assert("Generate".r.findAllIn(p).size >= 2,
        "need one explosion per measure side (each over its union)")
      assert(p.contains("BroadcastHashJoin"),
        "the sides must join back BROADCAST")
      // value-exactness vs the fact union join
      SummaryRewrite.deregister("spec_mhu0")
      SummaryRewrite.deregister("spec_mhu1")
      val expect = q.collect().map(_.toSeq).toSet
      (0 to 1).foreach(reg)
      assert(q.collect().map(_.toSeq).toSet === expect,
        "two-hist union star diverged from the fact join")
      // the composed glue + distinct pair shape over the union fact
      // (the expanded path's per-measure split with union children)
      def q2 = spark.read.parquet(s"$tmp/mhep0/o.parquet")
        .union(spark.read.parquet(s"$tmp/mhep1/o.parquet"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"),
          count(lit(1)).as("n"))
      val p2 = q2.queryExecution.executedPlan.toString
      assert(p2.contains("mhu0") && p2.contains("mhu1") &&
        !p2.contains("o.parquet"),
        s"distinct pair over a union fact star did not serve:\n$p2")
      SummaryRewrite.deregister("spec_mhu0")
      SummaryRewrite.deregister("spec_mhu1")
      val expect2 = q2.collect().map(_.toSeq).toSet
      (0 to 1).foreach(reg)
      assert(q2.collect().map(_.toSeq).toSet === expect2,
        "distinct pair over the union fact diverged")
      // REFUSAL: one epoch loses its artifact — the whole rewrite
      // stands down to the fact union (never a partial histogram)
      SummaryRewrite.deregister("spec_mhu1")
      assert(q.queryExecution.executedPlan.toString
        .contains("o.parquet"),
        "a missing epoch artifact must refuse to the fact union")
      reg(1)
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_mhu$i"))
  }

  test("the expanded-shape fact peel explores BOTH join orientations: " +
      "a join of TWO registered facts serves from whichever side's " +
      "artifact derives the measures; neither side derivable refuses") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    // the LEFT side (customer) is registered, but its summary cannot
    // cover the query (keys lack c_mktsegment) — a left-first-only
    // peel would pin customer as the fact on the registry hit, find
    // no covering candidate, and fall back to the fact scan even
    // though the RIGHT side (orders) serves
    SummaryRewrite.buildSummary(spark, s"$dir/customer.parquet",
      keys = Seq("c_custkey"), sumCols = Seq.empty,
      mvPath = s"$tmp/bfc")
    SummaryRewrite.buildSummary(spark, s"$dir/orders.parquet",
      keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
      mvPath = s"$tmp/bfo",
      histCols = Seq("o_orderkey", "o_totalprice"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_bfc", SummaryRewrite.Summary(
      "customer.parquet", s"$tmp/bfc", Set("c_custkey")))
    SummaryRewrite.register("spec_bfo", SummaryRewrite.Summary(
      "orders.parquet", s"$tmp/bfo", Set("o_custkey")))
    try {
      def customer = graft.Tables.load(spark, dir, "customer")
      def orders = graft.Tables.load(spark, dir, "orders")
      // customer on the LEFT: orientation 1 peels customer as the
      // fact (registered — a registry hit) but cannot derive the
      // fact-measure distinct pair; orientation 2 must then serve
      // from the orders artifact
      def q = customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_orderkey").as("uo"),
          countDistinct($"o_totalprice").as("ut"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("bfo") && !p.contains("orders.parquet"),
        s"right-side artifact did not serve under the expanded peel:\n$p")
      SummaryRewrite.deregister("spec_bfo")
      SummaryRewrite.deregister("spec_bfc")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_bfc", SummaryRewrite.Summary(
        "customer.parquet", s"$tmp/bfc", Set("c_custkey")))
      SummaryRewrite.register("spec_bfo", SummaryRewrite.Summary(
        "orders.parquet", s"$tmp/bfo", Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "both-orientation serving diverged from the fact join")
      // neither orientation derivable: a distinct over an expression
      // SPANNING two fact measures — no histogram can source it as
      // the fact, and as a dim position the distinct consumer is
      // inadmissible — every flattening refuses, the fact scan answers
      def qr = customer
        .join(orders, col("c_custkey") === col("o_custkey"))
        .groupBy($"c_mktsegment").agg(
          countDistinct($"o_totalprice").as("ut"),
          countDistinct($"o_orderkey" + $"o_totalprice").as("um"))
      assert(qr.queryExecution.executedPlan.toString
        .contains("customer.parquet"),
        "a pair neither artifact derives must refuse to the fact scan")
    } finally {
      SummaryRewrite.deregister("spec_bfc")
      SummaryRewrite.deregister("spec_bfo")
    }
  }

  test("hist value types: decimal and string measures build, fold, " +
      "and serve distinct counts exactly") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    val fact = s"$tmp/typefix.parquet"
    Seq(("a", "x", BigDecimal("1.50")), ("a", "x", BigDecimal("1.50")),
      ("a", "y", BigDecimal("2.25")), ("b", "y", BigDecimal("9.75")))
      .toDF("g", "s", "d")
      .select(col("g"), col("s"), col("d").cast("decimal(10,2)").as("d"))
      .write.parquet(fact)
    SummaryRewrite.buildSummary(spark, fact, keys = Seq("g"),
      sumCols = Seq.empty, mvPath = s"$tmp/typemv",
      histCols = Seq("s", "d"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_typehist",
      SummaryRewrite.Summary("typefix.parquet", s"$tmp/typemv", Set("g")))
    try {
      def qs = spark.read.parquet(fact).groupBy($"g")
        .agg(countDistinct($"s").as("us"))
      def qd = spark.read.parquet(fact).groupBy($"g")
        .agg(countDistinct($"d").as("ud"))
      Seq(("string", () => qs), ("decimal", () => qd)).foreach {
        case (nm, mk) =>
          val p = mk().queryExecution.executedPlan.toString
          assert(p.contains("typemv") && !p.contains("typefix.parquet"),
            s"$nm hist serving did not fire:\n$p")
          SummaryRewrite.deregister("spec_typehist")
          val expect = mk().collect().map(_.toSeq).toSet
          SummaryRewrite.register("spec_typehist",
            SummaryRewrite.Summary("typefix.parquet", s"$tmp/typemv",
              Set("g")))
          assert(mk().collect().map(_.toSeq).toSet === expect,
            s"$nm hist serving diverged")
      }
    } finally SummaryRewrite.deregister("spec_typehist")
  }

  test("hist through a star join over a UNION fact: the full " +
      "composition — explosion under the join over per-epoch artifacts") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    (0 to 1).foreach { i =>
      orders.filter($"o_orderkey" % 2 === i)
        .write.parquet(s"$tmp/hsep$i/o.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/hsep$i/o.parquet",
        keys = Seq("o_custkey"), sumCols = Seq("o_orderkey"),
        mvPath = s"$tmp/hsu$i", histCols = Seq("o_orderkey"))
      SummaryRewrite.register(s"spec_hsu$i", SummaryRewrite.Summary(
        s"hsep$i/o.parquet", s"$tmp/hsu$i", Set("o_custkey")))
    }
    SummaryRewrite.install(spark)
    try {
      def customer = graft.Tables.load(spark, dir, "customer")
      def q = spark.read.parquet(s"$tmp/hsep0/o.parquet")
        .union(spark.read.parquet(s"$tmp/hsep1/o.parquet"))
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy($"c_nationkey").agg(
          count(lit(1)).as("n"),
          countDistinct($"o_orderkey").as("uo"),
          expr("percentile(o_orderkey, 0.5)").as("med"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("hsu0") && p.contains("hsu1") &&
        !p.contains("o.parquet") && p.contains("Generate"),
        s"star-over-union hist serving did not fire:\n$p")
      SummaryRewrite.deregister("spec_hsu0")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hsu0", SummaryRewrite.Summary(
        "hsep0/o.parquet", s"$tmp/hsu0", Set("o_custkey")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "star-over-union hist serving diverged from the fact plan")
    } finally (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_hsu$i"))
  }

  test("distinct over a hist measure through the DOUBLE-AGGREGATION " +
      "shape (RewriteDistinctAggregates): multi-distinct + regulars " +
      "serve when the outer audit passes; an uncovered distinct " +
      "column refuses") {
    // mixed shape on the histfix: two distinct groups (m → histogram,
    // g → key) + regular measures — Spark expands this into
    // Aggregate(outer) over Aggregate(inner) over Expand
    withHist { fact =>
      def q = fact.groupBy($"g").agg(
        countDistinct($"m").as("dm"),
        countDistinct($"g").as("dg"),
        count(lit(1)).as("n"),
        sum($"w").as("sw"),
        avg($"m").as("am"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("histmv") && !p.contains("histfix.parquet") &&
        p.contains("Generate") && p.contains("Expand"),
        s"double-aggregation hist serving did not fire:\n$p")
      SummaryRewrite.deregister("spec_hist")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_hist",
        SummaryRewrite.Summary("histfix.parquet", histFix._2, Set("g")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "double-aggregation hist serving diverged from the fact plan — " +
          "the outer audit admitted something the inner rewrite got " +
          "wrong")
      // w carries no histogram: its distinct group is uncoverable and
      // the whole query must scan the fact
      val bad = fact.groupBy($"g").agg(
        countDistinct($"m").as("dm"), countDistinct($"w").as("dw"),
        count(lit(1)).as("n"))
      assert(bad.queryExecution.executedPlan.toString
        .contains("histfix.parquet"),
        "an uncovered distinct column must refuse the double-agg shape")
    }
    // the richer dashboard header on real data: uniques over a hist
    // measure AND a key, with regulars, per source
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source", "lang"), sumCols = Seq("n_chars"),
      mvPath = s"$tmp/dahist", histCols = Seq("n_chars"))
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_dahist", SummaryRewrite.Summary(
      "documents.parquet", s"$tmp/dahist", Set("source", "lang")))
    try {
      def q = docs.groupBy($"source").agg(
        countDistinct($"n_chars").as("uc"),
        countDistinct($"lang").as("ul"),
        count(lit(1)).as("n"),
        sum($"n_chars").as("sc"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("dahist") && !p.contains("documents.parquet"),
        s"documents double-agg hist serving did not fire:\n$p")
      SummaryRewrite.deregister("spec_dahist")
      val expect = q.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_dahist", SummaryRewrite.Summary(
        "documents.parquet", s"$tmp/dahist", Set("source", "lang")))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "documents double-agg hist serving diverged")
    } finally SummaryRewrite.deregister("spec_dahist")
  }

  test("a mistyped hist_<col> map refuses: the value type must be the " +
      "measure's exact type (a mis-registered artifact must never " +
      "serve a wrong distinct set)") {
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val (fact, _) = histFix
    val f = spark.read.parquet(fact)
    // a doctored artifact: hist_m carries STRING values (a different
    // column's histogram renamed), cnt/sum_ intact
    SummaryRewrite.summaryFrame(f, Seq("g"), Seq("m"))
      .withColumn("hist_m", map(lit("1"), lit(2L)))
      .write.parquet(s"$tmp/badhist")
    SummaryRewrite.install(spark)
    SummaryRewrite.register("spec_badhist", SummaryRewrite.Summary(
      "histfix.parquet", s"$tmp/badhist", Set("g")))
    try {
      val q = f.groupBy($"g").agg(countDistinct($"m").as("dm"))
      assert(q.queryExecution.executedPlan.toString
        .contains("histfix.parquet"),
        "a string-valued hist_m must refuse to serve a LONG measure")
      // the plain partials still serve through the same artifact
      val ok = f.groupBy($"g").agg(count(lit(1)).as("n"))
      assert(ok.queryExecution.executedPlan.toString.contains("badhist"),
        "the non-hist aggregates must still serve")
    } finally SummaryRewrite.deregister("spec_badhist")
  }

  test("expression measures: sum/avg/count/min/max of a registered " +
      "fact expression serve from sumx_/cntx_/minx_/maxx_ partials; " +
      "an unregistered or float expression refuses") {
    val sql = "n_chars * 2 + length(lang)"
    val nullableSql =
      "CASE WHEN n_chars % 3 = 0 THEN NULL ELSE n_chars * 2 END"
    val emv = graft.TempDirs.create("mvspec")
      .toString + "/exprmv"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source"), sumCols = Seq.empty, mvPath = emv,
      exprCols = Seq("nc2" -> sql, "ncn" -> nullableSql,
        "ncf" -> "n_chars * 0.5"),
      exprMinMax = Seq("nc2" -> sql, "ncf" -> "n_chars * 0.5"))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_expr",
      SummaryRewrite.Summary("documents.parquet", emv, Set("source"),
        exprs = Map("nc2" -> sql, "ncn" -> nullableSql,
          "ncf" -> "n_chars * 0.5")))
    reg()
    try {
      // the computed-measure dashboard row: every aggregate family
      // over the same expression, plus a FILTER-clause replay
      def q = docs.groupBy($"source").agg(
        sum(expr(sql)).as("s"),
        avg(expr(sql)).as("a"),
        count(expr(nullableSql)).as("c"),
        min(expr(sql)).as("lo"),
        max(expr(sql)).as("hi"),
        expr(s"sum($sql) FILTER (WHERE source <> 'web')").as("sf"))
      assert(usesMv(q), "expression measures did not serve:\n" +
        q.queryExecution.executedPlan.toString)
      SummaryRewrite.deregister("spec_expr")
      val expect = q.collect().map(_.toSeq).toSet
      // the nullable expression must actually bite, or the cntx leg
      // of the law is vacuous
      val nNull = docs.filter(expr(nullableSql).isNull).count()
      assert(nNull > 0, "law vacuous: nullable expression never NULL")
      reg()
      assert(q.collect().map(_.toSeq).toSet === expect,
        "expression-measure serving diverged from the fact scan")

      // an expression that does NOT match any registration refuses
      val other = docs.groupBy($"source")
        .agg(sum(expr("n_chars * 3")).as("s"))
      assert(!usesMv(other),
        "an unregistered expression must refuse (no partial to serve)")
      // a FLOAT-typed registered expression refuses SUM (re-associated
      // adds are not the fact's bits) but serves MIN/MAX (exact)
      val fsum = docs.groupBy($"source")
        .agg(sum(expr("n_chars * 0.5")).as("s"))
      assert(!usesMv(fsum), "float sumx must refuse SUM")
      val fmm = docs.groupBy($"source")
        .agg(min(expr("n_chars * 0.5")).as("lo"),
          max(expr("n_chars * 0.5")).as("hi"))
      assert(usesMv(fmm), "float minx/maxx are exact and must serve")
      SummaryRewrite.deregister("spec_expr")
      val expectF = fmm.collect().map(_.toSeq).toSet
      reg()
      assert(fmm.collect().map(_.toSeq).toSet === expectF)
      // a dim attr in the expression refuses in the join path (the
      // partial is fact-side only)
      val joined = docs.join(
        graft.Tables.load(spark, dir, "documents").select(
          $"source".as("src2"), $"lang".as("lang2")).distinct(),
        $"source" === $"src2")
        .groupBy($"lang2").agg(sum(expr("n_chars * 2 + length(lang2)"))
          .as("s"))
      assert(!usesMv(joined),
        "an expression over dim attrs must not claim the fact partial")
    } finally SummaryRewrite.deregister("spec_expr")
  }

  test("expression measures serve under native ROLLUP/CUBE: the " +
      "Expand path rebases measure pass-throughs and rides the " +
      "sumx_/cntx_/minx_/maxx_ partials per grouping set") {
    val sql = "n_chars * 2 + length(lang)"
    val emv = graft.TempDirs.create("mvspec")
      .toString + "/exprmv_rollup"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source"), sumCols = Seq.empty, mvPath = emv,
      exprCols = Seq("nc2" -> sql), exprMinMax = Seq("nc2" -> sql))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_expr_ru",
      SummaryRewrite.Summary("documents.parquet", emv, Set("source"),
        exprs = Map("nc2" -> sql)))
    reg()
    try {
      def q = docs.rollup($"source").agg(
        sum(expr(sql)).as("s"),
        avg(expr(sql)).as("a"),
        count(expr(sql)).as("c"),
        min(expr(sql)).as("lo"),
        max(expr(sql)).as("hi"),
        count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("exprmv_rollup") && !p.contains("documents.parquet"),
        s"rollup over expression measures did not serve:\n$p")
      assert(p.contains("Expand"), "the native rollup Expand must survive")
      SummaryRewrite.deregister("spec_expr_ru")
      val expect = q.collect().map(_.toSeq).toSet
      reg()
      assert(q.collect().map(_.toSeq).toSet === expect,
        "rollup expression-measure serving diverged")
      // an unregistered expression under rollup refuses
      val other = docs.rollup($"source")
        .agg(sum(expr("n_chars * 3")).as("s"))
      assert(other.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "an unregistered expression must refuse under rollup")
      // cube composes the same way
      def qc = docs.cube($"source").agg(sum(expr(sql)).as("s"))
      assert(qc.queryExecution.executedPlan.toString
        .contains("exprmv_rollup"), "cube over the expression must serve")
      SummaryRewrite.deregister("spec_expr_ru")
      val expectC = qc.collect().map(_.toSeq).toSet
      reg()
      assert(qc.collect().map(_.toSeq).toSet === expectC)
    } finally SummaryRewrite.deregister("spec_expr_ru")
  }

  test("expression measures over a UNION of facts: per-epoch sumx " +
      "partials fold across branches; an epoch binding a DIFFERENT " +
      "SQL to the same name refuses the whole rewrite") {
    val sql = "n_chars * 2 + length(lang)"
    val tmp = graft.TempDirs.create("mvspec")
      .toString
    val docsAll = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    (0 to 1).foreach { i =>
      docsAll.filter(col("doc_id") % 2 === i)
        .write.parquet(s"$tmp/xep$i/d.parquet")
      SummaryRewrite.buildSummary(spark, s"$tmp/xep$i/d.parquet",
        keys = Seq("source"), sumCols = Seq.empty,
        mvPath = s"$tmp/xunion$i", exprCols = Seq("nc2" -> sql))
    }
    SummaryRewrite.install(spark)
    def reg(i: Int, theSql: String): Unit =
      SummaryRewrite.register(s"spec_xu$i",
        SummaryRewrite.Summary(s"xep$i/d.parquet", s"$tmp/xunion$i",
          Set("source"), exprs = Map("nc2" -> theSql)))
    (0 to 1).foreach(reg(_, sql))
    try {
      def un = spark.read.parquet(s"$tmp/xep0/d.parquet")
        .unionAll(spark.read.parquet(s"$tmp/xep1/d.parquet"))
      def q = un.groupBy(col("source"))
        .agg(sum(expr(sql)).as("s"), count(expr(sql)).as("c"),
          count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("xunion0") && p.contains("xunion1") &&
        !p.contains("d.parquet"),
        s"union expression measures did not serve both epochs:\n$p")
      // the epochs partition documents, so the union aggregate equals
      // the whole-table one — checked against the unregistered plan
      (0 to 1).foreach(i => SummaryRewrite.deregister(s"spec_xu$i"))
      val expect = q.collect().map(_.toSeq).toSet
      (0 to 1).foreach(reg(_, sql))
      assert(q.collect().map(_.toSeq).toSet === expect,
        "union expression-measure serving diverged")
      // an epoch binding a DIFFERENT SQL to the same partial name must
      // refuse the WHOLE rewrite: its sumx_nc2 bytes mean a different
      // expression, and folding them would be silently wrong
      SummaryRewrite.deregister("spec_xu1")
      reg(1, "n_chars * 3")
      assert(q.queryExecution.executedPlan.toString.contains("d.parquet"),
        "a cross-branch expression-SQL mismatch must refuse")
    } finally (0 to 1).foreach(i =>
      SummaryRewrite.deregister(s"spec_xu$i"))
  }

  test("expression HISTOGRAMS: the distinct family, exact percentiles, " +
      "and sketches over a COMPUTED measure serve from hist_<name>; a " +
      "bare column sharing the name can never claim it") {
    val sql = "n_chars * 2 + length(lang)"
    val emv = graft.TempDirs.create("mvspec")
      .toString + "/exprhist"
    SummaryRewrite.buildSummary(spark, s"$dir/documents.parquet",
      keys = Seq("source"), sumCols = Seq.empty, mvPath = emv,
      exprHistCols = Seq("nc2" -> sql))
    SummaryRewrite.install(spark)
    def reg(): Unit = SummaryRewrite.register("spec_xhist",
      SummaryRewrite.Summary("documents.parquet", emv, Set("source"),
        exprs = Map("nc2" -> sql)))
    reg()
    try {
      def q = docs.groupBy($"source").agg(
        expr(s"count(DISTINCT $sql)").as("n_uniq"),
        expr(s"sum(DISTINCT $sql)").as("sum_uniq"),
        expr(s"median($sql)").as("med"),
        expr(s"percentile($sql, 0.9)").as("p90"),
        expr(s"approx_count_distinct($sql)").as("sketch"),
        min(expr(sql)).as("lo"),
        max(expr(sql)).as("hi"),
        count(expr(sql)).as("c"),
        count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("exprhist") && !p.contains("documents.parquet"),
        s"expression histogram did not serve:\n$p")
      assert(p.contains("Generate"),
        "the served plan must explode the expression histogram")
      SummaryRewrite.deregister("spec_xhist")
      val expect = q.collect().map(_.toSeq).toSet
      reg()
      assert(q.collect().map(_.toSeq).toSet === expect,
        "expression-histogram serving diverged (sketch bit-identity " +
          "included)")
      // a DIFFERENT expression refuses
      val other = docs.groupBy($"source")
        .agg(expr("count(DISTINCT n_chars * 3)").as("u"))
      assert(other.queryExecution.executedPlan.toString
        .contains("documents.parquet"),
        "an unregistered expression must refuse the histogram")
      // name-shadow: a fact whose COLUMN is literally named nc2 must
      // never claim the expression's histogram by name
      val tmp2 = graft.TempDirs.create("mvspec")
        .toString
      docs.withColumn("nc2", $"n_chars" * 5)
        .write.parquet(s"$tmp2/shadowfact.parquet")
      SummaryRewrite.register("spec_xhist_shadow",
        SummaryRewrite.Summary("shadowfact.parquet", emv, Set("source"),
          exprs = Map("nc2" -> sql)))
      try {
        val shadow = spark.read.parquet(s"$tmp2/shadowfact.parquet")
          .groupBy($"source").agg(countDistinct($"nc2").as("u"))
        assert(shadow.queryExecution.executedPlan.toString
          .contains("shadowfact.parquet"),
          "a bare column named like the expression must NOT serve " +
            "from its histogram (the bytes mean a different multiset)")
      } finally SummaryRewrite.deregister("spec_xhist_shadow")
    } finally SummaryRewrite.deregister("spec_xhist")
  }

  test("expression histograms ride the lifecycle: fold == rebuild, " +
      "audit, and CDC retraction of a computed measure's multiset") {
    val sql = "n_chars * 2 + length(lang)"
    val store = graft.TempDirs.create("mvspec")
      .toString + "/xhiststore"
    val fact = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(fact.filter(col("doc_id") % 3 === 0),
        Seq("source"), Seq.empty, exprHistCols = Seq("nc2" -> sql))
        .coalesce(1), store)
    SummaryRewrite.mergeDelta(spark, store,
      fact.filter(col("doc_id") % 3 =!= 0), Seq("source"), Seq.empty,
      exprCols = Seq("nc2" -> sql))
    val reg = SummaryRewrite.Summary("documents.parquet", "",
      Set("source"), store = Some(store), exprs = Map("nc2" -> sql))
    assert(SummaryRewrite.auditSummaryFrame(spark, fact, reg,
      Seq.empty).count() === 0,
      "folded expression histogram diverged from rebuild")
    // a fold whose exprCols omit the histogram's SQL refuses loudly
    val e = intercept[IllegalArgumentException] {
      SummaryRewrite.mergeDelta(spark, store, fact.limit(3),
        Seq("source"), Seq.empty)
    }
    assert(e.getMessage.contains("hist_nc2"),
      s"refusal must name the histogram, got: ${e.getMessage}")
    // CDC: deleting rows retracts the computed measure's multiset
    val deletes = fact.filter(col("doc_id") % 7 === 0)
    SummaryRewrite.applyCdc(spark, store, fact.limit(0), deletes,
      Seq("source"), Seq.empty, exprCols = Seq("nc2" -> sql))
    val newFact = fact.exceptAll(deletes)
    assert(SummaryRewrite.auditSummaryFrame(spark, newFact, reg,
      Seq.empty).count() === 0,
      "CDC-retracted expression histogram diverged from rebuild")
  }

  test("applyCdc retracts EXPRESSION min/max from the expression " +
      "histogram: an exprMinMax + exprHist artifact survives a delete " +
      "batch that removes group extremes — minx_/maxx_ re-derive " +
      "exactly, no dropUnretractable needed; without the histogram " +
      "they still refuse") {
    val sql = "n_chars * 2 + length(lang)"
    val fact = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val store = graft.TempDirs.create("mvspec")
      .toString + "/xmmstore"
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(fact, Seq("source"), Seq.empty,
        exprCols = Seq("nc2" -> sql), exprMinMax = Seq("nc2" -> sql),
        exprHistCols = Seq("nc2" -> sql)).coalesce(1), store)
    // delete each source's CURRENT maximum-n_chars rows so the
    // retraction provably bites (maxx_ must FALL, not just survive)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars").desc)
    val deletes = fact
      .withColumn("__rk", row_number().over(w)).filter(col("__rk") === 1)
      .drop("__rk")
    SummaryRewrite.applyCdc(spark, store, fact.limit(0), deletes,
      Seq("source"), Seq.empty, exprCols = Seq("nc2" -> sql))
    val after = graft.operators.IndexOps.readSnapshot(spark, store)
    assert(after.schema.fieldNames.contains("minx_nc2") &&
      after.schema.fieldNames.contains("maxx_nc2"),
      "expression extremes must survive the delete, re-derived")
    val newFact = fact.exceptAll(deletes)
    val reg = SummaryRewrite.Summary("documents.parquet", "",
      Set("source"), store = Some(store), exprs = Map("nc2" -> sql))
    assert(SummaryRewrite.auditSummaryFrame(spark, newFact, reg,
      Seq.empty).count() === 0,
      "CDC-retracted expression min/max diverged from the rebuild")
    // ... and WITHOUT the histogram the refusal still stands
    val store2 = graft.TempDirs.create("mvspec")
      .toString + "/xmmstore2"
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(fact, Seq("source"), Seq.empty,
        exprCols = Seq("nc2" -> sql), exprMinMax = Seq("nc2" -> sql))
        .coalesce(1), store2)
    val e = intercept[IllegalArgumentException] {
      SummaryRewrite.applyCdc(spark, store2, fact.limit(0),
        deletes, Seq("source"), Seq.empty,
        exprCols = Seq("nc2" -> sql))
    }
    assert(e.getMessage.contains("minx_nc2"),
      s"hist-less expression extremes must refuse: ${e.getMessage}")
  }

  test("expression measures ride the lifecycle: catalog roundtrip, " +
      "mergeDelta fold == rebuild, audit catches a doctored partial") {
    val sql = "n_chars * 2 + length(lang)"
    val store = graft.TempDirs.create("mvspec")
      .toString + "/exprstore"
    val fact = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(fact.filter(col("doc_id") % 3 === 0),
        Seq("source"), Seq.empty, exprCols = Seq("nc2" -> sql))
        .coalesce(1), store)
    // fold the remaining two thirds in; the folded artifact must be
    // bit-equal to a from-scratch build (sumx/cntx Σ, minx min, maxx max)
    SummaryRewrite.mergeDelta(spark, store,
      fact.filter(col("doc_id") % 3 =!= 0), Seq("source"), Seq.empty,
      exprCols = Seq("nc2" -> sql))
    val folded = graft.operators.IndexOps.readSnapshot(spark, store)
      .collect().map(_.toSeq).toSet
    val rebuilt = SummaryRewrite.summaryFrame(fact, Seq("source"),
      Seq.empty, exprCols = Seq("nc2" -> sql))
      .collect().map(_.toSeq).toSet
    assert(folded === rebuilt,
      "mergeDelta fold of expression partials diverged from rebuild")
    // a fold that would silently drop the expression partial refuses
    val e = intercept[IllegalArgumentException] {
      SummaryRewrite.mergeDelta(spark, store,
        fact.limit(5), Seq("source"), Seq.empty)
    }
    assert(e.getMessage.contains("nc2"),
      s"refusal must name the dropped partial, got: ${e.getMessage}")
    // catalog roundtrip carries the exprs map exactly
    val catDir = graft.TempDirs.create("mvspec")
      .toString + "/exprcat"
    val entry = SummaryRewrite.Summary("documents.parquet", "",
      Set("source"), store = Some(store),
      exprs = Map("nc2" -> sql, "w,eird" -> "a + \"b\""))
    SummaryRewrite.publishCatalog(spark, catDir, Map("spec_ecat" -> entry))
    SummaryRewrite.clear()
    try {
      assert(SummaryRewrite.loadCatalog(spark, catDir) === 1)
      assert(SummaryRewrite.explainServing(
        docs.groupBy($"source").agg(count(lit(1)).as("n"))) != null)
      // the loaded registration must equal the published one, exprs
      // included (the flat-format parallel arrays zip back)
      val served = docs.groupBy($"source")
        .agg(sum(expr(sql)).as("s"), count(lit(1)).as("n"))
      assert(usesMv(served) || served.queryExecution.executedPlan
        .toString.contains("exprstore"),
        "catalog-loaded expression registration did not serve:\n" +
          served.queryExecution.executedPlan.toString)
      // a brace in the expression SQL refuses at publish time
      val bad = intercept[IllegalArgumentException] {
        SummaryRewrite.publishCatalog(spark, catDir, Map("b" ->
          SummaryRewrite.Summary("x", "y", Set("k"),
            exprs = Map("m" -> "map {1:2}"))))
      }
      assert(bad.getMessage.contains("brace"))
    } finally SummaryRewrite.clear()
    // audit: a doctored sumx partial surfaces
    val reg2 = SummaryRewrite.Summary("documents.parquet", "",
      Set("source"), store = Some(store), exprs = Map("nc2" -> sql))
    assert(SummaryRewrite.auditSummaryFrame(spark, fact, reg2,
      Seq.empty).count() === 0, "exact expression artifact must audit clean")
    val latestV = graft.operators.IndexOps
      .snapshotVersions(spark, store).max
    val doctored = graft.operators.IndexOps.readSnapshot(spark, store)
      .withColumn("sumx_nc2", col("sumx_nc2") + lit(7L))
    graft.operators.IndexOps.writeSnapshot(doctored.coalesce(1), store)
    assert(SummaryRewrite.auditSummaryFrame(spark, fact, reg2,
      Seq.empty).count() > 0, "doctored sumx partial must surface")
  }

  test("serving composes downstream: HAVING, ORDER BY ... LIMIT " +
      "(top-k dashboards), and window functions over a served " +
      "aggregate all read the artifact") {
    withSummary {
      // HAVING — a Filter above the rewritten Aggregate
      def having = docs.groupBy($"source")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("sc"))
        .filter($"n" > 5)
      assert(usesMv(having), "HAVING over a served aggregate must " +
        "still read the artifact:\n" +
        having.queryExecution.executedPlan.toString)
      // top-k — TakeOrdered over the served aggregate
      def topk = docs.groupBy($"source")
        .agg(sum($"n_chars").as("sc"))
        .orderBy($"sc".desc, $"source").limit(3)
      assert(usesMv(topk), "ORDER BY ... LIMIT over a served " +
        "aggregate must still read the artifact")
      // window — rank() over the served aggregate's output
      def ranked = docs.groupBy($"source")
        .agg(sum($"n_chars").as("sc"))
        .withColumn("rk", rank().over(org.apache.spark.sql.expressions
          .Window.partitionBy(lit(1)).orderBy($"sc".desc)))
      assert(usesMv(ranked), "a window over a served aggregate must " +
        "still read the artifact")
      // having/ranked compare as sets (grouped output order is not a
      // contract); topk's explicit ORDER BY + tiebreak compares ordered
      SummaryRewrite.deregister("spec_mv")
      val expectH = having.collect().map(_.toSeq).toSet
      val expectT = topk.collect().map(_.toSeq).toIndexedSeq
      val expectR = ranked.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv", SummaryRewrite.Summary(
        "documents.parquet", mv, Set("source", "lang")))
      assert(having.collect().map(_.toSeq).toSet === expectH,
        "downstream composition diverged for HAVING")
      assert(topk.collect().map(_.toSeq).toIndexedSeq === expectT,
        "downstream composition diverged for top-k")
      assert(ranked.collect().map(_.toSeq).toSet === expectR,
        "downstream composition diverged for the window")
    }
  }

  test("replaceable aggregates and bare set shapes serve: count_if/" +
      "bool_or/bool_and/every/any over key expressions, SELECT " +
      "DISTINCT, and custom GROUPING SETS") {
    withSummary {
      // RuntimeReplaceableAggregates lower to Count/Min/Max before the
      // rule runs, so the key-expression branches serve them
      def flags = docs.groupBy($"source").agg(
        expr("count_if(lang = 'en')").as("n_en"),
        expr("bool_or(lang = 'en')").as("has_en"),
        expr("bool_and(length(lang) = 2)").as("all_iso2"),
        expr("every(length(source) > 0)").as("nonempty"))
      assert(usesMv(flags), "replaceable aggregates over key " +
        "expressions must serve:\n" +
        flags.queryExecution.executedPlan.toString)
      SummaryRewrite.deregister("spec_mv")
      val expectF = flags.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv", SummaryRewrite.Summary(
        "documents.parquet", mv, Set("source", "lang")))
      assert(flags.collect().map(_.toSeq).toSet === expectF)
      // SELECT DISTINCT over keys = Aggregate(keys, keys) — the
      // summary has every key combination present in the fact
      def dist = docs.select($"source", $"lang").distinct()
      assert(usesMv(dist), "SELECT DISTINCT over keys must serve")
      SummaryRewrite.deregister("spec_mv")
      val expectD = dist.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv", SummaryRewrite.Summary(
        "documents.parquet", mv, Set("source", "lang")))
      assert(dist.collect().map(_.toSeq).toSet === expectD)
      // custom GROUPING SETS — the same Expand shape as rollup/cube
      def gsets = spark.sql(
        s"""SELECT source, lang, count(*) AS n, sum(n_chars) AS sc
           |FROM parquet.`$dir/documents.parquet`
           |GROUP BY GROUPING SETS ((source), (lang))""".stripMargin)
      assert(usesMv(gsets),
        "custom GROUPING SETS must serve through the Expand path:\n" +
          gsets.queryExecution.executedPlan.toString)
      SummaryRewrite.deregister("spec_mv")
      val expectG = gsets.collect().map(_.toSeq).toSet
      SummaryRewrite.register("spec_mv", SummaryRewrite.Summary(
        "documents.parquet", mv, Set("source", "lang")))
      assert(gsets.collect().map(_.toSeq).toSet === expectG)
    }
  }

  test("applyCdc: inserts fold in, deletes retract out — the artifact " +
      "equals a from-scratch rebuild, hist-backed min/max FALL, a " +
      "fully-deleted value leaves the distinct set, a vanished group " +
      "drops") {
    val store = graft.TempDirs.create("mvspec")
      .toString + "/cdcstore"
    val fact = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val sql = "n_chars * 2"
    def build(f: DataFrame) = SummaryRewrite.summaryFrame(f,
      Seq("source"), Seq("n_chars"), minMaxCols = Seq("n_chars"),
      histCols = Seq("n_chars"), exprCols = Seq("nc2" -> sql))
    graft.operators.IndexOps.writeSnapshot(
      build(fact.filter(col("doc_id") % 2 === 0)).coalesce(1), store)
    // CDC batch: insert the odd rows EXCEPT one source entirely, and
    // delete from the even rows (a) every row of one source (the group
    // vanishes), (b) the row holding each remaining source's MAX
    // n_chars (hist-backed max must FALL, the monoid-impossible move)
    val srcs = fact.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val (goneSrc, keepSrcs) = (srcs.head, srcs.tail)
    val inserts = fact.filter(col("doc_id") % 2 === 1 &&
      col("source") =!= goneSrc)
    val evens = fact.filter(col("doc_id") % 2 === 0)
    val maxRows = evens.filter(col("source") =!= goneSrc)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("__rk") === 1).drop("__rk")
    val deletes = evens.filter(col("source") === goneSrc)
      .unionByName(maxRows)
    val reg = SummaryRewrite.Summary("documents.parquet", "",
      Set("source"), store = Some(store), exprs = Map("nc2" -> sql))
    // the new logical fact; exceptAll is exact multiset subtraction
    val newFact = evens.unionByName(inserts).exceptAll(deletes)
    SummaryRewrite.applyCdc(spark, store, inserts, deletes,
      Seq("source"), Seq("n_chars"), minMaxCols = Seq("n_chars"),
      exprCols = Seq("nc2" -> sql))
    // bit-exactness: the audit (which rebuilds EVERY partial from the
    // new fact, map_entries compared) must be clean
    assert(SummaryRewrite.auditSummaryFrame(spark, newFact, reg,
      Seq("n_chars"), Seq("n_chars")).count() === 0,
      "applyCdc artifact diverged from a from-scratch rebuild")
    val after = graft.operators.IndexOps.readSnapshot(spark, store)
    // the vanished group dropped; the max actually FELL somewhere
    assert(after.filter(col("source") === goneSrc).count() === 0,
      "a fully-deleted key group must vanish from the artifact")
    val maxBefore = evens.filter(col("source") =!= goneSrc)
      .groupBy(col("source")).agg(max(col("n_chars")).as("m"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxAfter = after.select(col("source"), col("max_n_chars"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // doc_id parity correlates with source in the fixture, so only
    // sources present BEFORE the CDC batch can witness a falling max
    assert(keepSrcs.filter(maxBefore.contains).exists(s0 =>
        maxAfter.get(s0).exists(_ < maxBefore(s0))),
      "law vacuous: no hist-backed max actually fell under deletion")
    // over-retraction refuses loudly: delete a row the fact never had
    val bogus = fact.limit(1).withColumn("doc_id", lit(-999999L))
      .withColumn("n_chars", lit(424242L))
    val e1 = intercept[IllegalArgumentException] {
      SummaryRewrite.applyCdc(spark, store, inserts.limit(0), bogus,
        Seq("source"), Seq("n_chars"), minMaxCols = Seq("n_chars"),
        exprCols = Seq("nc2" -> sql))
    }
    assert(e1.getMessage.contains("retraction invariants") ||
      e1.getMessage.contains("delete batch"),
      s"over-retraction must refuse, got: ${e1.getMessage}")
  }

  test("applyCdc refusals: min/max without a histogram and hll " +
      "registers refuse deletes; dropUnretractable sheds them " +
      "explicitly; an empty delete batch behaves like mergeDelta") {
    val store = graft.TempDirs.create("mvspec")
      .toString + "/cdcstore2"
    val fact = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    graft.operators.IndexOps.writeSnapshot(
      SummaryRewrite.summaryFrame(fact.filter(col("doc_id") % 2 === 0),
        Seq("source"), Seq("n_chars"), minMaxCols = Seq("n_chars"),
        hllCols = Seq("doc_id")).coalesce(1), store)
    val del = fact.filter(col("doc_id") % 2 === 0).limit(3)
    val e = intercept[IllegalArgumentException] {
      SummaryRewrite.applyCdc(spark, store, fact.limit(0), del,
        Seq("source"), Seq("n_chars"), minMaxCols = Seq("n_chars"))
    }
    assert(e.getMessage.contains("not") &&
      e.getMessage.contains("retractable") &&
      e.getMessage.contains("min_n_chars"),
      s"refusal must name the unretractable partials: ${e.getMessage}")
    // message parity across classes: the hll register is NAMED, its
    // non-invertibility stated, and the rebuild-vs-shed choice offered
    // exactly like the min/max remedy
    assert(e.getMessage.contains("hll_9_doc_id") &&
      e.getMessage.contains("not") &&
      e.getMessage.toLowerCase.contains("invertible") &&
      e.getMessage.contains("REBUILD") &&
      e.getMessage.contains("SHED"),
      s"hll refusal must state non-invertibility and the rebuild-vs-" +
        s"shed choice: ${e.getMessage}")
    // explicit shed: min/max and the hll register drop, counts retract
    SummaryRewrite.applyCdc(spark, store, fact.limit(0), del,
      Seq("source"), Seq("n_chars"), minMaxCols = Seq("n_chars"),
      dropUnretractable = true)
    val after = graft.operators.IndexOps.readSnapshot(spark, store)
    assert(!after.schema.fieldNames.exists(n => n.startsWith("min_") ||
      n.startsWith("max_") || n.startsWith("hll_")),
      "dropUnretractable must shed the unretractable partials")
    val newFact = fact.filter(col("doc_id") % 2 === 0).exceptAll(del)
    val reg = SummaryRewrite.Summary("documents.parquet", "",
      Set("source"), store = Some(store))
    assert(SummaryRewrite.auditSummaryFrame(spark, newFact, reg,
      Seq("n_chars")).count() === 0,
      "retained partials must still equal the rebuild")
    // empty delete batch = mergeDelta (inserts fold, nothing shed)
    SummaryRewrite.applyCdc(spark, store,
      fact.filter(col("doc_id") % 2 === 1), fact.limit(0),
      Seq("source"), Seq("n_chars"))
    val newFact2 = newFact.unionByName(
      fact.filter(col("doc_id") % 2 === 1))
    assert(SummaryRewrite.auditSummaryFrame(spark, newFact2, reg,
      Seq("n_chars")).count() === 0,
      "empty-delete applyCdc must fold like mergeDelta")
  }

  test("hist float keys normalize like Spark's aggregation keys: " +
      "-0.0 groups with 0.0 and NaN is one value") {
    import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}
    val f = Seq(("a", 0.0d), ("a", -0.0d), ("a", Double.NaN),
      ("a", Double.NaN), ("a", 1.5d))
      .toDF("g", "m")
    val hf = SummaryRewrite.summaryFrame(f, Seq("g"), Seq.empty,
      histCols = Seq("m"))
    val entries = hf.select(map_entries(col("hist_m")).as("e"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(entries.size === 3,
      s"expected {0.0→2, 1.5→1, NaN→2}, got $entries")
    val direct = f.groupBy(col("g"))
      .agg(countDistinct(col("m")).as("d")).collect()(0).getLong(1)
    assert(direct === 3L, "Spark's own distinct agrees (sanity)")
  }

  test("hist cap refuses loudly at build time — never a silently " +
      "truncated histogram") {
    val (fact, _) = histFix
    val err = intercept[Exception] {
      SummaryRewrite.summaryFrame(spark.read.parquet(fact), Seq("g"),
        Seq.empty, histCols = Seq("w"), histCap = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("cap")),
      s"cap overflow must name the cap, got: ${messages(err)}")
  }
}
