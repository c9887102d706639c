package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.syntax._

/** Text-analysis + dedup operators over the `documents` table — the
  * training-data-pipeline surface (exact dedup, MinHash+LSH, SimHash,
  * n-gram Jaccard, language-ID, quality stats, token counts,
  * fingerprinting). Everything here is built from codegen'd built-ins /
  * higher-order functions — no UDFs — so it scales as plain scans +
  * key-partitioned shuffles.
  */
object TextOps {

  private def toks(c: Column): Column = split(c, " ")

  /** Exact dedup profile: per source, docs vs distinct content hashes
    * (hash-groupBy dedup; md5 here, xxhash64 at scale). */
  def q17DedupExact(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_distinct"))

  /** Word-level Jaccard similarity over doc pairs (the exact n-gram
    * overlap measure LSH approximates). Explode → self-equi-join on the
    * token → group: at scale this is the token-inverted-index join, which
    * shuffles on the token key instead of materializing all pairs. */
  def q18Jaccard(s: SparkSession, dir: String): DataFrame = {
    val w = load(s, dir, "documents")
      .filter($"doc_id" < 15)
      .select($"doc_id", explode(array_distinct(toks($"text"))).as("w"))
    val sizes = w.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = w.as("a").join(w.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), $"da" === col("sa.doc_id"))
      .join(sizes.as("sb"), $"db" === col("sb.doc_id"))
      .select(
        $"da".cast("long").as("doc_a"),
        $"db".cast("long").as("doc_b"),
        round($"inter" * lit(1.0) / (col("sa.n") + col("sb.n") - $"inter"), 4).as("jac"))
  }

  private val stopwords = Seq("the", "a", "of", "and")

  /** Quality/stat scoring: token counts, distinct ratio, average token
    * length, stopword ratio — the text-quality features of a data
    * pipeline, all as pure column expressions. */
  def q19TextStats(s: SparkSession, dir: String): DataFrame = {
    val t = toks($"text")
    val nTok = size(t)
    load(s, dir, "documents")
      .select(
        $"doc_id",
        $"n_chars".cast("long").as("n_chars"),
        nTok.cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct_tokens"),
        round(length(replace($"text", lit(" "), lit(""))).cast("double") / nTok, 4)
          .as("avg_token_len"),
        round(size(filter(t, x => x.isin(stopwords: _*))).cast("double") / nTok, 4)
          .as("stop_ratio"))
  }

  /** Language-ID heuristic: marker-token votes with fixed precedence
    * (en > de > fr > es), 'unk' when no marker hits. Formula-parity is
    * what the oracle checks; real corpora swap in real marker n-grams. */
  def q20LangId(s: SparkSession, dir: String): DataFrame = {
    val t = toks($"text")
    def votes(ws: Seq[String]) = size(filter(t, x => x.isin(ws: _*)))
    val en = votes(Seq("the", "a", "of", "and"))
    val de = votes(Seq("der", "die", "das", "und"))
    val fr = votes(Seq("le", "la", "les", "et"))
    val es = votes(Seq("el", "los", "las", "y"))
    val pred = when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("unk")
    load(s, dir, "documents")
      .select(
        $"doc_id", $"lang", pred.as("pred"),
        when(pred === $"lang", 1L).otherwise(0L).as("is_match"))
  }

  /** q234 — classifier evaluation: the CONFUSION MATRIX of the q20
    * language-ID heuristic against the labeled `lang` column — the
    * eval table every quality/language classifier in a curation
    * pipeline ships with (per-class precision/recall read straight off
    * the rows; q20's per-document is_match only gives accuracy). One
    * map-side-combinable aggregate over (true, predicted); output is
    * classes², corpus-size-free. */
  def q234LangConfusion(s: SparkSession, dir: String): DataFrame =
    q20LangId(s, dir)
      .groupBy($"lang".as("true_lang"), $"pred".as("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** Word-3-gram shingles of a document (distinct). Documents shorter
    * than 3 tokens yield their whole text as the single shingle.
    *
    * The token array is bound ONCE as a lambda variable via the
    * single-element-array wrap: higher-order functions re-evaluate plain
    * argument expressions inside the lambda body per element (split()
    * would otherwise run ~3× per shingle — measured 40× slower).
    */
  def shingles(c: Column): Column =
    element_at(
      transform(array(toks(c)), t =>
        when(size(t) >= 3,
          array_distinct(
            transform(sequence(lit(1), size(t) - 2),
              i => concat_ws(" ",
                element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
          .otherwise(array(concat_ws(" ", t)))),
      1)

  /** Character 3-gram shingles (distinct); same lambda-binding trick. */
  def charShingles(c: Column): Column =
    element_at(
      transform(array(c), t =>
        array_distinct(
          transform(sequence(lit(1), greatest(length(t) - 2, lit(1))),
            i => t.substr(i, lit(3))))),
      1)

  /** Character n-gram Jaccard over doc pairs — the char-level variant of
    * q18 (token-inverted-index join, no all-pairs materialization). */
  def q49CharNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val g = load(s, dir, "documents")
      .filter($"doc_id" < 8)
      .select($"doc_id", explode(charShingles($"text")).as("g"))
    val sizes = g.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = g.as("a").join(g.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), $"da" === col("sa.doc_id"))
      .join(sizes.as("sb"), $"db" === col("sb.doc_id"))
      .select(
        $"da".cast("long").as("doc_a"),
        $"db".cast("long").as("doc_b"),
        round($"inter" * lit(1.0) / (col("sa.n") + col("sb.n") - $"inter"), 4).as("jac"))
  }

  /** MinHash + LSH near-dup detection: signature → bands → bucket-join on
    * (band, band-hash) → exact Jaccard verify on candidates. Only
    * same-bucket pairs are materialized (the scale path: shuffle on
    * band-hash, never all-pairs). Oracle-gated: the DuckDB oracle counts
    * the EXACT all-pairs shingle-Jaccard ≥ 0.8 — LSH recall on the
    * planted dups (all at jac ≥ 0.9, band-collision certain for this
    * data) makes the two counts equal; any recall miss fails the gate.
    *
    * Verify fan-out guard: candidates per probe doc are capped (window
    * row_number ≤ [[MaxCandidatesPerDoc]], deterministic id order) so an
    * adversarial corpus can't bloat the exact-verify join with per-doc
    * `collect_set` shingle payloads; `n_capped_pairs` reports drops (the
    * oracle pins it to 0 — a capped true pair fails the gate loudly). */
  val MaxCandidatesPerDoc = 128

  def q23MinHash(s: SparkSession, dir: String): DataFrame = {
    val (verified, nCapped) = lshNearDupPairs(load(s, dir, "documents"), 0.8)
    verified
      .groupBy()
      .agg(count(lit(1)).as("n_dup_pairs"))
      .crossJoin(nCapped)
  }

  /** The MinHash+LSH near-dup pipeline as a reusable edge producer:
    * returns (verified pairs at jaccard >= threshold, capped-pair count).
    * Shared by q23 (count gate) and the dedup clusterer (q51 edges). */
  def lshNearDupPairs(docs: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    val (verified, nCapped) = lshPipeline(docs, threshold)
    (verified, nCapped)
  }

  val LshBands = 4
  val LshRows = 4

  /** The MinHash signature frame — one row per doc: (doc_id, sh_set,
    * m0..m15). This is the REUSABLE dedup artifact: persist it once
    * (plain parquet) and every later near-dup / clustering run starts
    * from [[nearDupPairsFromSignatures]] without re-shingling the
    * corpus — the expensive scan amortizes across runs.
    *
    * Relational MinHash: explode shingles ONCE, then the K "permutation"
    * minima are K min-aggregates over one groupBy — map-side combine
    * shrinks the shuffle to one row per doc, and Spark's ReuseExchange
    * computes this subtree once even though it is referenced three times
    * downstream. (A higher-order-function formulation recomputes the
    * shingle array inside every lambda — measured 8× slower at sf0.1.) */
  def signatureFrame(docs: DataFrame): DataFrame = {
    val k = LshBands * LshRows
    val exploded = docs
      .select($"doc_id", explode(shingles($"text")).as("sh"))
    // sh_set is SORTED: one sort per document here lets the verify
    // stage intersect every candidate pair with a single merge walk
    // (sorted_intersect_count) instead of a per-pair hash-set build
    val aggs = sort_array(collect_set($"sh")).as("sh_set") +:
      (0 until k).map(kk => min(xxhash64($"sh", lit(kk))).as(s"m$kk"))
    exploded.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Verified near-dup pairs from an existing signature frame (the
    * artifact-reuse path — same plan as the direct pipeline minus the
    * corpus scan). */
  def nearDupPairsFromSignatures(sigs: DataFrame, threshold: Double): DataFrame =
    pairsFromSignatures(sigs, threshold, None)._1

  /** Incremental artifact maintenance: signatures for the docs NOT yet
    * in the stored artifact (anti-join on the pruned id column — only
    * NEW documents are shingled). Append the result to the artifact;
    * per-doc rows make the update embarrassingly incremental. */
  def updateSignatures(docs: DataFrame, existingSigs: DataFrame): DataFrame =
    signatureFrame(
      docs.join(existingSigs.select($"doc_id"), Seq("doc_id"), "left_anti"))

  /** Full pipeline; `capObs` (when given) attaches a CollectMetrics node
    * below the candidate-cap filter so the capped-pair count rides the
    * SAME action that materializes the verified pairs — the clusterer's
    * cap gate costs zero extra passes over the corpus. */
  private def lshPipeline(
      docs: DataFrame, threshold: Double,
      capObs: Option[org.apache.spark.sql.Observation] = None): (DataFrame, DataFrame) =
    pairsFromSignatures(signatureFrame(docs), threshold, capObs)

  /** LSH bands of a signature frame: hash each run of [[LshRows]]
    * signature components; a pair is a candidate iff it shares a
    * (band, bkey) bucket. Carries ids only. Package-visible so the
    * streaming signature store can persist the banding
    * ([[graft.streaming.DocumentStream]]). */
  private[graft] def bandFrame(sigs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = $"doc_id" +: carry.map(col)
    sigs.select(keep :+
      explode(array((0 until LshBands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * LshRows until (b + 1) * LshRows)
            .map(i => col(s"m$i")): _*).as("bkey"))
      }: _*)).as("bb"): _*)
      .select(keep ++ Seq(col("bb.band").as("band"), col("bb.bkey").as("bkey")): _*)
  }

  /** Exact-Jaccard verify of candidate pairs against the signature
    * frame's shingle sets. `sh_set` is sorted ([[signatureFrame]]), so
    * ∩ is one codegen merge walk per pair and ∪ falls out as
    * |A| + |B| − |A∩B| — no array_union materialization at all. A
    * defensive sort_array is a no-op on the sorted artifact but keeps
    * the verify correct for pre-sorted-era persisted signature frames. */
  private[graft] def verifyPairs(
      cand: DataFrame, sigs: DataFrame, threshold: Double): DataFrame = {
    import graft.plans.VectorExpressions.sorted_intersect_count
    val sh = sigs.select($"doc_id", sort_array($"sh_set").as("sh_set"))
    cand
      .join(sh.select($"doc_id".as("id_a"), $"sh_set".as("sh_a")), "id_a")
      .join(sh.select($"doc_id".as("id_b"), $"sh_set".as("sh_b")), "id_b")
      .select($"id_a", $"id_b",
        sorted_intersect_count($"sh_a", $"sh_b").as("inter"),
        (size($"sh_a") + size($"sh_b")).as("tot"))
      .filter($"inter".cast("double") / ($"tot" - $"inter") >= threshold)
      .select($"id_a", $"id_b")
  }

  /** Canonical (id_a < id_b) candidate pairs of a band probe —
    * `probeBands ⋈ newBands` on (band, bkey) — annotated with `rn`, the
    * larger of the two endpoints' candidate degrees (the
    * [[pairsFromSignatures]] window discipline: a hub doc is bounded
    * whether it appears as the probe or the match side). The degree
    * guard ([[guardCandidates]]) filters or refuses on `rn`. */
  private[graft] def bandCandidates(
      probeBands: DataFrame, newBands: DataFrame): DataFrame = {
    val pairs = probeBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
    // ONE window instead of two, and NO pre-distinct: r16 ranked each
    // endpoint role with its own Window over the distinct pairs — a
    // distinct exchange plus two window exchanges and two sorts per
    // probe batch. Each raw join hit explodes into its two
    // (endpoint, other, side) role rows and a single
    // (endpoint, side)-partitioned dense_rank ranks both roles under
    // one sort — dense_rank over duplicated partners equals row_number
    // over the distinct partner set, so the value is identical to
    // greatest(row_number over (id_a, order id_b),
    //          row_number over (id_b, order id_a))
    // on the distinct pairs — and the closing max-aggregate both
    // dedups the pairs and takes the larger role rank in one pass.
    // Side 0 replays the id_a window, side 1 the id_b window; the side
    // key keeps a doc's two roles from mixing in one partition.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"p", $"side").orderBy($"o")
    pairs
      .select(explode(array(
        struct($"id_a".as("p"), $"id_b".as("o"), lit(0).as("side")),
        struct($"id_b".as("p"), $"id_a".as("o"), lit(1).as("side")))).as("e"))
      .select($"e.p".as("p"), $"e.o".as("o"), $"e.side".as("side"))
      .withColumn("r", dense_rank().over(w))
      .select(
        when($"side" === 0, $"p").otherwise($"o").as("id_a"),
        when($"side" === 0, $"o").otherwise($"p").as("id_b"),
        $"r")
      .groupBy($"id_a", $"id_b").agg(max($"r").as("rn"))
  }

  /** Degree guard over [[bandCandidates]] output — the q64
    * refuse-or-account discipline applied to the incremental probe.
    *
    * Returns (kept candidate pairs `(id_a, id_b)`, one-row
    * `n_capped_pairs` stats).
    *
    * A boilerplate cluster accumulating members in one band bucket makes
    * every new near-copy pair against ALL stored members — per-batch
    * candidates grow with history, cumulative work quadratic (the Σdf²
    * blowup relocated to the dedup-at-ingest path). Strict mode
    * (`allowLossy = false`, the library default) REFUSES loudly: the
    * `raise_error` is woven into the kept `id_a` column itself so column
    * pruning can't drop the check and it costs zero extra passes. Lossy
    * mode caps each doc's candidate degree at `maxCandidates`
    * (deterministic id order, so replays cap identically) and surfaces
    * the drop count — a capped true pair then under-merges a cluster,
    * which for dedup means keeping a duplicate, never losing a doc. */
  private[graft] def guardCandidates(
      rnFrame: DataFrame, maxCandidates: Int,
      allowLossy: Boolean): (DataFrame, DataFrame) = {
    val kept =
      if (allowLossy) rnFrame.filter($"rn" <= maxCandidates).drop("rn")
      else rnFrame.select(
        when($"rn" > maxCandidates,
          raise_error(concat(
            lit("incremental near-dup probe: a document exceeds "),
            lit(s"$maxCandidates band-bucket candidates (pair "), $"id_a",
            lit("~"), $"id_b",
            lit(") — a boilerplate cluster is accumulating in the " +
              "signature store; dedup upstream, raise maxCandidates, or " +
              "pass allowLossy=true to cap with surfaced accounting"))))
          .otherwise($"id_a").as("id_a"),
        $"id_b")
    // max_degree rides the accounting row: the probe's largest per-doc
    // candidate degree IS the store-wide bucket-heat signal among the
    // buckets this batch touched (rn counts store ∪ batch members), so
    // the early-warning metric costs nothing beyond the aggregate that
    // was already scanning rnFrame
    val nCapped = rnFrame
      .groupBy().agg(
        count(when($"rn" > maxCandidates, lit(1))).as("n_capped_pairs"),
        coalesce(max($"rn"), lit(0)).cast("long").as("max_degree"))
    (kept, nCapped)
  }

  /** Incremental near-dup maintenance: the verified pairs that involve
    * at least one document of `newSigs`, probed against the FULL
    * artifact `allSigs` (= existing ∪ new, i.e. the stored signature
    * frame after appending [[updateSignatures]]' output). The band join
    * probes only the new documents' buckets, so the work scales with
    * the UPDATE size, not the corpus — the artifact-reuse answer to
    * "which clusters did this batch touch". Pairs are canonical
    * (id_a < id_b); the full-rebuild law `pairs(all) = pairs(old) ∪
    * incremental(new, all)` is pinned in TextOpsSpec.
    *
    * Candidate degree is GUARDED ([[guardCandidates]]): by default an
    * update doc whose band buckets yield more than `maxCandidates`
    * candidate pairs refuses loudly in-plan rather than silently doing
    * quadratic work — a capped incremental edge would silently break
    * the rebuild law, so lossy capping (with the drop count surfaced)
    * is strictly opt-in. */
  def incrementalNearDupPairs(
      newSigs: DataFrame, allSigs: DataFrame, threshold: Double,
      maxCandidates: Int = MaxCandidatesPerDoc,
      allowLossy: Boolean = false): DataFrame = {
    val (kept, _) = guardCandidates(
      bandCandidates(bandFrame(allSigs), bandFrame(newSigs)),
      maxCandidates, allowLossy)
    verifyPairs(kept, allSigs, threshold)
  }

  private def pairsFromSignatures(
      sigs: DataFrame, threshold: Double,
      capObs: Option[org.apache.spark.sql.Observation]): (DataFrame, DataFrame) = {
    val banded = bandFrame(sigs)
    // the shared degree discipline ([[bandCandidates]]): rn = the larger
    // of the two endpoints' candidate degrees, so a hub doc is bounded
    // whether it appears as the probe or the match side
    val candAllRn = bandCandidates(banded, banded)
    val candAll = capObs match {
      case Some(o) => candAllRn.observe(o,
        count(when($"rn" > MaxCandidatesPerDoc, lit(1))).as("n_capped"))
      case None => candAllRn
    }
    val cand = candAll.filter($"rn" <= MaxCandidatesPerDoc).drop("rn")
    val nCapped = candAll.filter($"rn" > MaxCandidatesPerDoc)
      .groupBy().agg(count(lit(1)).as("n_capped_pairs"))
    (verifyPairs(cand, sigs, threshold), nCapped)
  }

  /** Exact near-dup PAIRS (shingle-Jaccard ≥ threshold) via the
    * token-inverted-index join — the verified edge list the dedup
    * clusterer consumes. */
  def nearDupPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // repartition on the shingle key: ONE explode/shingle pass feeds a
    // shuffle that ReuseExchange shares across all four consumers below
    // (sizes, df-cut, both join sides) — without it the shingle HOF
    // recomputes per consumer (~4× the scan cost); the df-cut aggregation
    // and the posting join then read the exchange already partitioned
    val e = docs.select($"doc_id", explode(shingles($"text")).as("g"))
      .repartition($"g")
    val sizes = e.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // df-cut (lossless): a shingle appearing in one document contributes
    // to no intersection — drop singleton postings before the self-join;
    // on a natural corpus this removes the vast majority of the input
    val shared = e.groupBy($"g").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2).select($"g")
    val es = e.join(shared, "g")
    es.as("a").join(es.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("sa"), $"da" === col("sa.doc_id"))
      .join(sizes.as("sb"), $"db" === col("sb.doc_id"))
      .filter($"inter" * lit(1.0) / (col("sa.n") + col("sb.n") - $"inter") >= threshold)
      .select($"da", $"db")
  }

  /** Semantic-dedup clustering + survivor selection: connected
    * components over the near-dup pair graph (driver union-find below the
    * edge threshold, large-star/small-star contraction above it — see
    * [[dedupClusters]]). Output: one row per multi-document cluster
    * (survivor = min doc_id, cluster size) — the "which docs to keep"
    * step of a dedup pipeline. Oracle: the identical clustering via a
    * recursive min-label CTE in DuckDB. */
  def q51DedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClusters(load(s, dir, "documents"), 0.8)

  /** SOFT-dedup effective corpus size — the sampling-weight view of the
    * near-dup graph: instead of dropping non-survivors, every document
    * in a near-dup cluster of size n weighs 1/n, so a source padded
    * with near-copies contributes its DISTINCT content mass, not its
    * row count (the down-weighting used when hard dedup would lose
    * wanted variants). Integer milli-doc weights (`1000 div n`, the
    * cross-engine floor) keep the gate exact; singletons weigh 1000.
    *
    * Plan: the cluster labels + sizes are dup-graph-sized (edges ≈
    * dup-rate × docs), so the decoration of the corpus is a BROADCAST
    * left join — the corpus is never shuffled, and the per-source
    * rollup is the only exchange. */
  def q140SoftDedupSize(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val members = dedupClusterMembers(docs, 0.8)
    val sizes = members.groupBy($"cluster_id").agg(count(lit(1)).as("cl_n"))
    docs.select($"doc_id", $"source")
      .join(broadcast(members.join(sizes, "cluster_id")), Seq("doc_id"), "left")
      .select($"source",
        coalesce(expr("1000 div cl_n"), lit(1000L)).as("w_milli"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"w_milli").as("eff_millidocs"))
  }

  /** Connected components over the verified near-dup graph. The dup
    * GRAPH is tiny relative to the corpus (edges ≈ dup-rate × docs), so
    * like a broadcast-join decision there are two physical strategies:
    * below `maxLocalEdges` the edge list collects to the driver and a
    * union-find labels it in microseconds; above it, large-star/small-star
    * contraction runs fully distributed (two groupBy+join passes per
    * round, (node, node) pairs on the wire). Both produce identical
    * labels.
    *
    * A candidate edge dropped by the LSH per-doc cap could silently SPLIT
    * a cluster, so unlike the pair-counter (which just reports
    * `n_capped_pairs`) the clusterer refuses to run on a capped graph by
    * default (`failOnCappedEdges = false` downgrades to a stderr warning
    * for callers that accept fractured clusters). */
  def dedupClusters(
      docs: DataFrame, threshold: Double,
      maxLocalEdges: Long = 1000000L,
      failOnCappedEdges: Boolean = true): DataFrame =
    dedupClusterMembers(docs, threshold, maxLocalEdges, failOnCappedEdges)
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2)

  /** Per-document cluster labels — the join-able form of
    * [[dedupClusters]]: one row per document that participates in a
    * near-dup cluster, labeled with the component min id. Same hybrid
    * strategy and capped-edge gate; singleton documents (no verified
    * edges) don't appear — they are their own survivors by definition. */
  def dedupClusterMembers(
      docs: DataFrame, threshold: Double,
      maxLocalEdges: Long = 1000000L,
      failOnCappedEdges: Boolean = true): DataFrame = {
    // edges come from the LSH-bucketed pipeline (shuffle on band keys,
    // verify on candidates only) — NOT the exact all-pairs inverted-index
    // join, which materializes every shingle-sharing pair. The cap gate
    // rides the pair materialization as a CollectMetrics observation —
    // zero extra scans.
    val obs = new org.apache.spark.sql.Observation()
    val (verified, _) = lshPipeline(docs, threshold, Some(obs))
    // ONE action decides the strategy AND fetches the edges: a bounded
    // collect (limit = maxLocalEdges + 1) caps driver memory at ~16 MB
    // for the default threshold, returns the COMPLETE edge set whenever
    // the graph is local-sized, and the CollectMetrics cap gate rides the
    // same action (its node sits in an upstream shuffle-map stage, which
    // executes fully even under incremental limit execution). The old
    // shape — cache + count + collect — materialized the whole LSH
    // pipeline twice and paid the cache write; measured ~2× slower.
    // NOTE: a localCheckpoint+count probe (the clusterMembersFromPairs
    // shape) does NOT work here — the checkpoint truncates the plan, so
    // the count's execution no longer contains the observe node and the
    // cap gate never completes (AnnSpec's refusal test catches this).
    val es = verified.limit((maxLocalEdges + 1).min(Int.MaxValue.toLong).toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nCapped = Option(obs.get("n_capped")).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    if (nCapped > 0) {
      val msg = s"dedupClusters: the LSH candidate cap ($MaxCandidatesPerDoc/doc) " +
        s"dropped $nCapped candidate pair(s) — clusters through hub documents " +
        "may be split. Exact-dedup the corpus first or raise the cap."
      if (failOnCappedEdges) throw new IllegalStateException(msg)
      System.err.println(s"WARN $msg")
    }
    if (es.length <= maxLocalEdges) {
      localClusters(docs.sparkSession, es)
    } else {
      // Big-graph path: the bounded collect hit its limit, which means
      // (a) the Observation's metric may be PARTIAL (incremental limit
      // execution can stop before every partition ran) and (b) the
      // Observation is consumed (one action only). Rebuild the pipeline
      // and re-run the cap gate EXACTLY via the nCapped aggregate — an
      // extra pass, but only on the rare >maxLocalEdges path, and the
      // gate is the clusterer's correctness guarantee.
      val (pairsRaw, nCappedDf) = lshPipeline(docs, threshold, None)
      val pairs = pairsRaw.cache()
      val cappedExact = nCappedDf.head().getLong(0)
      if (cappedExact > 0) {
        val msg = s"dedupClusters: the LSH candidate cap ($MaxCandidatesPerDoc/doc) " +
          s"dropped $cappedExact candidate pair(s) — clusters through hub documents " +
          "may be split. Exact-dedup the corpus first or raise the cap."
        if (failOnCappedEdges) { pairs.unpersist(); throw new IllegalStateException(msg) }
        System.err.println(s"WARN $msg")
      }
      val out = distributedClusters(pairs)
      pairs.unpersist() // out reads the round-0 localCheckpoint, not pairs
      out
    }
  }

  /** Connected-component labels for an ARBITRARY verified pair frame
    * (id_a, id_b) — the hybrid local/distributed solve of
    * [[dedupClusterMembers]] exposed for callers that already hold
    * edges (the streaming near-dup dedup probes the signature store
    * incrementally and needs survivor selection over its own pairs).
    * Same strategy decision: one bounded collect, driver union-find at
    * or below `maxLocalEdges`, large-star/small-star contraction
    * above. Labels are the component min id. */
  def clusterMembersFromPairs(
      pairs: DataFrame, maxLocalEdges: Long = 1000000L): DataFrame = {
    // pin then count: a limit(n+1).collect() here would go through
    // executeTake's ESCALATING partition scans (1, 4, 16… partitions —
    // one driver-scheduled job each when the edge count never reaches
    // the limit, which is the common case), so the strategy probe is a
    // lazy localCheckpoint materialized by ONE full count, and the
    // local-path collect then reads the pinned blocks for free. The
    // count also forces any in-plan degree-guard refusal
    // ([[guardCandidates]]) deterministically before callers touch
    // their stores. Driver memory stays bounded: the collect only runs
    // when the counted edge set fits `maxLocalEdges`.
    val pinned = pairs.localCheckpoint(false)
    val n = pinned.count()
    val out =
      if (n <= maxLocalEdges)
        localClusters(pinned.sparkSession,
          pinned.collect().map(r => (r.getLong(0), r.getLong(1))))
      else distributedClusters(pinned) // round-0 checkpoint reads pinned blocks
    // `out` reads driver-local rows (local path) or distributedClusters'
    // own eager checkpoint — pinned's blocks are dead weight from here,
    // and without an explicit release they linger in executor storage
    // until driver GC happens to collect the RDD (unbounded pressure in
    // a long-lived streaming session calling this per micro-batch)
    releaseLocalCheckpoint(pinned)
    out
  }

  /** Frees the executor block storage pinned by a Dataset-level
    * `localCheckpoint`. `Dataset.unpersist()` goes through the cache
    * manager and never finds checkpoint blocks, so the checkpointed RDD
    * is pulled out of the plan's `LogicalRDD` leaf and unpersisted
    * directly. Only safe once nothing reads the blocks anymore — the
    * checkpoint TRUNCATED lineage, so a later read cannot recompute. */
  private[graft] def releaseLocalCheckpoint(ds: DataFrame): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Driver union-find with path compression (the sub-`maxLocalEdges`
    * strategy of [[dedupClusters]]). */
  private def localClusters(
      spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
      // union-find with path compression
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("doc_id", "cluster_id")
  }

  /** The distributed path: alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — O(log n) rounds regardless of component DIAMETER (plain
    * min-label propagation needs diameter-many rounds, and web-corpus
    * near-dup graphs carry thousand-link template chains). Each round is
    * two groupBy-min + join passes over bare (node, node) pairs; edges
    * are `localCheckpoint`ed per round so the iterative plan never grows.
    * The loop verifies the fixpoint was actually reached and THROWS if
    * the defensive round cap trips — never a silent wrong answer. */
  private[operators] def distributedClusters(pairsIn: DataFrame): DataFrame = {
    // canonical big→small orientation, deduped
    var edges = pairsIn
      .select(
        greatest($"id_a", $"id_b").as("u"),
        least($"id_a", $"id_b").as("v"))
      .filter($"u" =!= $"v").distinct()
      .localCheckpoint()

    // large-star: from each node u's bidirectional neighborhood, link
    // every LARGER neighbor to m = min(N(u) ∪ {u}); output stays u > v
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.select($"u", $"v")
        .union(e.select($"v".as("u"), $"u".as("v")))
      val mins = bidir.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      bidir.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .distinct()
    }

    // small-star: with edges oriented u > v, link every smaller neighbor
    // (and u itself) to m = min(N⁻(u)); all outputs are (x, m) with x > m
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy($"u").agg(min($"v").as("m"))
      e.join(mins, "u")
        .select($"v".as("x"), $"m").filter($"x" =!= $"m")
        .union(mins.select($"u".as("x"), $"m"))
        .select($"x".as("u"), $"m".as("v"))
        .distinct()
    }

    // set fingerprint: (count, xor of pair hashes) — xor is order-blind
    // and cannot overflow (sum() would, under ANSI mode)
    def state(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    val maxRounds = 50 // defensive: fixpoint needs O(log n) rounds
    var cur = state(edges)
    var prev = (-1L, 0L)
    var iter = 0
    while (cur != prev && iter < maxRounds) {
      // the eager checkpoint materializes the new round NOW, so the
      // previous round's blocks are unreachable — release them instead
      // of letting up to 50 rounds of edge sets pile up in storage
      val next = smallStar(largeStar(edges)).localCheckpoint()
      releaseLocalCheckpoint(edges)
      edges = next
      prev = cur
      cur = state(edges)
      iter += 1
    }
    if (cur != prev)
      throw new IllegalStateException(
        s"distributedClusters: connected components did not reach the " +
          s"star-graph fixpoint within $maxRounds rounds " +
          s"(${cur._1} edges at cap) — refusing to emit possibly-split clusters")

    // at the fixpoint every non-root node has exactly one edge (node,
    // componentMin): members are the children plus one row per root.
    // (The root branch derives cluster_id via withColumn AFTER the
    // distinct — projecting the same attribute twice in one select
    // trips RemoveRedundantAliases into an unresolved plan.)
    val roots = edges.select($"v".cast("long").as("doc_id")).distinct()
      .withColumn("cluster_id", $"doc_id")
    edges.select($"u".cast("long").as("doc_id"), $"v".cast("long").as("cluster_id"))
      .union(roots)
  }

  /** Quality-filter funnel — the per-stage pass accounting of a
    * training-data cleaning pipeline (language gate → length gate →
    * stopword-density gate), computed in ONE pass with conditional
    * aggregates (no per-stage scans). */
  def q52QualityFunnel(s: SparkSession, dir: String): DataFrame = {
    val t = toks($"text")
    val nTok = size(t)
    val stopRatio = size(filter(t, x => x.isin(stopwords: _*))).cast("double") / nTok
    load(s, dir, "documents")
      .select($"source", $"lang", nTok.as("n_tokens"), stopRatio.as("stop_ratio"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("pass_lang"),
        sum(when($"lang" === "en" && $"n_tokens".between(30, 120), 1L).otherwise(0L))
          .as("pass_len"),
        sum(when($"lang" === "en" && $"n_tokens".between(30, 120) &&
            $"stop_ratio" > 0.05, 1L).otherwise(0L))
          .as("pass_all"))
  }

  /** Exact token-count percentiles per source (linear interpolation —
    * Spark `percentile` and DuckDB `quantile_cont` share the definition,
    * and integer inputs keep the interpolated doubles bit-identical). */
  def q53TokenPercentiles(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select($"source", size(toks($"text")).as("n_tokens"))
      .groupBy($"source")
      .agg(
        expr("percentile(n_tokens, 0.5)").as("p50"),
        expr("percentile(n_tokens, 0.9)").as("p90"),
        expr("percentile(n_tokens, 0.99)").as("p99"),
        count(lit(1)).as("n"))

  /** The 100 TB path for token percentiles: `approx_percentile` keeps a
    * bounded quantile sketch per group (partial-aggregable, map-side
    * combined), where exact `percentile` buffers EVERY value in the
    * aggregation buffer — per-source arrays of billions of entries at
    * corpus scale. The exact form ([[q53TokenPercentiles]]) stays as the
    * oracle gate; this is the production variant (at `accuracy`=10⁴ the
    * rank error is ≤ n/10⁴ — exact on small groups). */
  def tokenPercentilesApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame =
    docs
      .select($"source", size(toks($"text")).as("n_tokens"))
      .groupBy($"source")
      .agg(
        expr(s"approx_percentile(n_tokens, array(0.5D, 0.9D, 0.99D), $accuracy)")
          .as("pcts"),
        count(lit(1)).as("n"))
      .select($"source",
        element_at($"pcts", 1).cast("double").as("p50"),
        element_at($"pcts", 2).cast("double").as("p90"),
        element_at($"pcts", 3).cast("double").as("p99"),
        $"n")

  /** Stratified per-source cap — domain balancing: keep K docs per
    * source, selected by a deterministic hash order ((doc_id * prime)
    * mod M — engine-portable, no RNG), ties broken by doc_id. The
    * window is key-local (partitioned by source): no global sort. */
  def q54StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val k = 20
    val order = ($"doc_id" * 2654435761L) % 1000003L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy(order, $"doc_id")
    load(s, dir, "documents")
      .select($"source", $"doc_id")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"source", $"doc_id", $"rn".cast("long").as("rn"))
  }

  /** Decontamination — flag corpus documents sharing n-grams with a
    * benchmark/eval set (doc_id < 10 stands in for the eval split). The
    * benchmark's distinct shingle index is SMALL by construction →
    * broadcast; the corpus side stays a scan + broadcast-hash semi-join,
    * no shuffle of corpus text. */
  def q55Decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val bench = docs.filter($"doc_id" < 10)
      .select(explode(shingles($"text")).as("g")).distinct()
    val corpus = docs.filter($"doc_id" >= 10)
      .select($"doc_id", $"source", explode(shingles($"text")).as("g"))
    corpus.join(broadcast(bench), "g")
      .groupBy($"doc_id", $"source")
      .agg(countDistinct($"g").as("n_hits"))
      .filter($"n_hits" >= 3)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_contaminated"),
        sum($"n_hits").cast("long").as("total_hits"))
  }

  /** Intra-document repetition ratio — the boilerplate/spam quality
    * signal: 1 − distinct/total word-3-grams, per document (stateless
    * column math; integer-scaled for the cross-engine gate). */
  def q56Repetition(s: SparkSession, dir: String): DataFrame = {
    // NON-distinct shingle count (shingles() dedups, so count directly)
    val t = toks($"text")
    val total = greatest(size(t) - 2, lit(1))
    val distinctCnt = size(shingles($"text"))
    load(s, dir, "documents")
      .select(
        $"doc_id",
        total.cast("long").as("n_shingles"),
        distinctCnt.cast("long").as("n_distinct"),
        floor((lit(1.0) - distinctCnt.cast("double") / total) * 1e4 + 0.5)
          .cast("long").as("rep_scaled"))
  }

  /** Token-rarity scoring — the unigram-LM quality proxy without
    * transcendental math (logs diverge between engines at the ULP; a
    * document-frequency sum is exact): per document, distinct-token
    * count and the sum of corpus document frequencies of its tokens.
    * Low df_sum / n_distinct ⇒ rare vocabulary. The df join is the
    * token-inverted-index shape: shuffle on the token key, never
    * all-pairs; at 100 TB the df table is the corpus vocabulary
    * (Zipf-bounded), reusable across scoring runs. */
  def q58TokenRarity(s: SparkSession, dir: String): DataFrame = {
    val w = load(s, dir, "documents")
      .select($"doc_id", explode(array_distinct(toks($"text"))).as("w"))
    val df = w.groupBy($"w").agg(count(lit(1)).as("df"))
    w.join(df, "w")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_distinct_tokens"),
        sum($"df").as("df_sum"))
  }

  /** Retrieval top-k: tf × (N/df) scoring with EXACT rational arithmetic
    * (the BM25 family's tf·idf core, with the engine-divergent log
    * replaced by integer-scaled N/df — `(tf · N · 10⁶) div df`). The
    * plan is the inverted-index retrieval shape: explode → filter to the
    * query terms (predicate pushdown kills non-matching tokens at the
    * scan), tf/df aggregates, then TakeOrderedAndProject for the top-k —
    * no global sort. */
  def q59TfidfTopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val query = Seq("data", "join", "dup")
    val docs = load(s, dir, "documents")
    val terms = docs
      .select($"doc_id", explode(toks($"text")).as("w"))
      .filter($"w".isin(query: _*))
    val tf = terms.groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val nDocs = docs.groupBy().agg(count(lit(1)).as("n_corpus"))
    // Scale AFTER the division: (tf · N · 10⁶) overflows Int64 once
    // N ≈ 10¹⁰ and tf is in the hundreds (100 TB corpus), and with ANSI
    // off it would wrap silently and reorder the top-k. tf · ((N·10⁶)
    // div df) keeps every intermediate ≤ tf · N · 10⁶ / df; exact for
    // tf ≤ 9.2·10¹⁸ / (N·10⁶) — tf ≤ ~920 at N = 10¹⁰.
    tf.join(broadcast(dfreq), "w").crossJoin(broadcast(nDocs))
      .select($"doc_id", expr("tf * ((n_corpus * 1000000) div df)").as("term_score"))
      .groupBy($"doc_id")
      .agg(sum($"term_score").as("score_scaled"))
      .orderBy($"score_scaled".desc, $"doc_id")
      .limit(k)
  }

  /** Domain-mix accounting — the data-mixing step of corpus assembly:
    * per source, document count, corpus share (ppm), and the
    * equalizing keep-ratio (ppm of this source to sample to match the
    * smallest source). Exact integer division only. */
  def q60DomainMix(s: SparkSession, dir: String): DataFrame = {
    val counts = load(s, dir, "documents")
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val tot = counts.groupBy().agg(
      sum($"n_docs").as("total"), min($"n_docs").as("min_n"))
    counts.crossJoin(broadcast(tot))
      .select($"source", $"n_docs",
        expr("(n_docs * 1000000) div total").as("share_ppm"),
        expr("(min_n * 1000000) div n_docs").as("equalize_keep_ppm"))
  }

  /** Shingle CONTAINMENT — |A∩B| / min(|A|,|B|) — the asymmetric
    * near-dup measure that catches sub-document duplication (quotes,
    * wrapped reposts) which Jaccard dilutes away: a short doc fully
    * contained in a long one has low Jaccard but containment 1. Same
    * token-inverted-index join shape as q18; exact integer-rational
    * scoring (`(inter·10⁴) div min`), pairs at ≥ 0.8. Hot-shingle
    * guarded via [[containmentPairs]] in ACCOUNTING mode — the q23
    * `n_capped_pairs` discipline: the drop counters ride every row and
    * the oracle pins them to ZERO, so a capped shingle fails the gate
    * loudly while the query itself keeps running at corpus sizes where
    * natural df passes the cap (strict refusal stays the library
    * default for direct `containmentPairs` callers). */
  def q64Containment(s: SparkSession, dir: String): DataFrame = {
    val (pairs, drops) = containmentPairs(
      load(s, dir, "documents"), allowLossy = true)
    pairs.crossJoin(broadcast(drops))
  }

  /** Postings above this document frequency never enter the containment
    * pair join. One boilerplate shingle ("all rights reserved …") with
    * df = 10⁶ docs would create a 10¹²-row bucket — the Σdf² blowup, on
    * exactly the corpora containment dedup targets. 1000 caps any one
    * bucket at ~5·10⁵ pairs while sitting far above every natural df in
    * the testdata (max 25 at sf0.1). */
  val MaxContainmentDf: Long = 1000L

  /** Shingle-containment pairs with the hot-shingle guard.
    *
    * Returns (pairs at containment ≥ minScaled/10⁴, one-row drop stats
    * `(n_hot_shingles, n_dropped_postings)`).
    *
    * Guard discipline (the q51 converge-or-throw / q23 `n_capped_pairs`
    * family): postings with df > maxDf are excluded from the pair join,
    * which UNDERCOUNTS intersections for pairs sharing a hot shingle —
    * a silent-wrong-answer mode, so by default (`allowLossy = false`)
    * the operator REFUSES loudly when any shingle trips the cap: a
    * `raise_error` is woven into the df-cut's kept column itself, so
    * the guard costs ZERO extra passes (it rides the very aggregation
    * that feeds the join) and fires — naming the offending shingle and
    * its df — the moment a hot posting would otherwise enter the pair
    * join. Lossy mode drops hot postings instead, with the drops
    * surfaced in the stats frame. */
  def containmentPairs(
      docs: DataFrame, minScaled: Long = 8000L,
      maxDf: Long = MaxContainmentDf,
      allowLossy: Boolean = false): (DataFrame, DataFrame) = {
    // pinned (lazy localCheckpoint), not repartition-for-ReuseExchange:
    // the consumers below (df table, both pair-join sides) prune
    // different columns, so their exchanges canonicalize apart and the
    // shingle explosion ran once per consumer (measured: two full
    // explode map-stages at sf0.1). The checkpoint materializes the
    // exploded postings exactly once for all of them. The round-robin
    // spread BEFORE the pin is load-bearing: a single-file corpus is
    // one input partition, and a 1-partition checkpoint serializes
    // every consumer stage until its next exchange (measured +1.1 s on
    // q64) — spread the store scale-adaptively so the block set, and
    // everything reading it, is wide. Unlike r16 the RAW explosion pin
    // is TRANSIENT: the pair join consumes the df-CUT survivors, which
    // get their own pin below, and the raw blocks are released as soon
    // as that pin is materialized — at corpus scale the long-lived
    // block set is the cut postings, not the O(corpus × shingles)
    // explosion (verdict-r16 item 4).
    val g = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select($"doc_id", explode(shingles($"text")).as("g"))
      .localCheckpoint(false)
    val dfreq = g.groupBy($"g").agg(count(lit(1)).as("df"))
    // per-doc shingle counts from the docs scan directly (size() over
    // the same array the explosion emits — row-for-row identical to
    // counting g's rows) so `sizes` never reads the released pin
    val sizes = docs.select($"doc_id",
      size(shingles($"text")).cast("long").as("n"))
    // df-cut: singletons contribute to no intersection (lossless);
    // df > maxDf postings are the guarded hot tail — refused (strict,
    // in-plan raise_error on the kept column so pruning can't drop it)
    // or excluded with accounting (lossy)
    val shared =
      if (allowLossy) dfreq.filter($"df" >= 2 && $"df" <= maxDf).select($"g")
      else dfreq.filter($"df" >= 2)
        .select(when($"df" > maxDf,
          raise_error(concat(
            lit("containmentPairs: shingle '"), $"g",
            lit("' has df="), $"df",
            lit(s" > maxDf=$maxDf — joining it would build an O(df²) " +
              "pair bucket; raise maxDf or pass allowLossy=true to drop " +
              "hot postings with surfaced accounting"))))
          .otherwise($"g").as("g"))
    // ONE bounded accounting row, collected eagerly (this also
    // materializes g) and re-emitted as a literal frame so the stats
    // side never re-reads the released explosion
    val dropRow = dfreq.filter($"df" > maxDf)
      .groupBy().agg(
        count(lit(1)).as("n_hot_shingles"),
        coalesce(sum($"df"), lit(0L)).as("n_dropped_postings")).head()
    val dropStats = docs.sparkSession.createDataFrame(
      java.util.Collections.singletonList(dropRow),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_hot_shingles",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_dropped_postings",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // the df-cut pin the pair join fans out from (both sides) — eager,
    // so the raw explosion can be freed here; in strict mode the
    // in-plan refusal fires during this materialization, before any
    // caller action
    val gs = g.join(shared, "g").localCheckpoint()
    releaseLocalCheckpoint(g)
    val inter = gs.as("a").join(gs.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val pairs = inter
      .join(sizes.as("sa"), $"da" === col("sa.doc_id"))
      .join(sizes.as("sb"), $"db" === col("sb.doc_id"))
      .select(
        $"da".cast("long").as("doc_a"),
        $"db".cast("long").as("doc_b"),
        expr(s"(inter * 10000) div least(sa.n, sb.n)").as("containment_scaled"))
      .filter($"containment_scaled" >= minScaled)
    (pairs, dropStats)
  }

  /** The streaming near-dup dedup CORE through the oracle gate: one
    * micro-batch of the whole corpus flows through
    * [[graft.streaming.DocumentStream.nearDupDedupBatch]] (signature,
    * incremental band probe, component-survivor selection, signature
    * store write) and the per-source survivor counts are checked
    * against the recursive-CTE cluster-min twin — single-batch
    * semantics are exactly the one-shot dedup, so the SQL is the q51
    * clustering with non-min members removed. Cross-batch behavior
    * (transitive reps, idempotent replays) stays StreamingSpec-gated. */
  /** Drop-accounting read-back for the streaming-dedup GATES: the gate
    * queries run the probe in lossy ACCOUNTING mode (the q64
    * discipline — strict refusal stays the library default, but a gate
    * that refuses at a bigger SF stops gating anything) and pin the
    * capped-pair count to ZERO through the oracle, so a capped true
    * pair fails the cross-engine hash loudly instead of silently
    * under-merging. The sidecar is one row per batch; collected
    * eagerly because the scratch store is deleted before the query
    * frame executes. */
  private def dropsTotal(s: SparkSession, sigStore: String): Long =
    s.read.parquet(s"$sigStore/drops")
      .agg(sum($"n_capped_pairs")).head().getLong(0)

  def q123StreamDedupCore(s: SparkSession, dir: String): DataFrame = {
    // NOTE: building this query EAGERLY runs the sign/probe/cluster jobs
    // (nearDupDedupBatch materializes the store as a side effect); the
    // returned frame only aggregates the checkpointed survivor set, so
    // the scratch store is deleted before returning.
    // the survivor frame's lineage stops at the checkpointed assignment
    // (nearDupDedupBatch), so it never re-reads the deleted scratch store
    val tmp = graft.TempDirs.create("q123")
    try {
      val survivors = graft.streaming.DocumentStream.nearDupDedupBatch(
        load(s, dir, "documents"), s"$tmp/sigs", 0.8, allowLossy = true)
      val drops = dropsTotal(s, s"$tmp/sigs")
      survivors.groupBy($"source").agg(count(lit(1)).as("n_survivors"))
        .withColumn("n_capped_pairs", lit(drops))
    } finally deleteRecursively(tmp)
  }

  /** MULTI-batch streaming dedup through the oracle gate: the corpus
    * splits deterministically in-query (even doc_ids = micro-batch 0,
    * odd = micro-batch 1 — the q37 synthetic-input precedent, so the
    * oracle can replay the split), and both batches flow through
    * [[graft.streaming.DocumentStream.nearDupDedupBatch]] against the
    * SAME signature store. This puts the cross-batch semantics — the
    * transitive a~b, b~c chain resolution and survivor stability (an
    * emitted batch-0 survivor is final even when batch 1 would merge or
    * re-anchor its cluster) — behind the cross-engine hash gate, not
    * just StreamingSpec. The oracle is the exact TWO-PHASE twin of the
    * streaming algorithm: phase 1 = cluster-min over even-even pairs;
    * phase 2 = components over pairs touching an odd doc, representative
    * = min STORED phase-1 rep when the component has one, else min new
    * id (a plain union cluster-min would diverge the moment a batch-1
    * component is disconnected within batch 1 — survivor stability is
    * the semantics, so the oracle models it). */
  def q124StreamDedupMultiBatch(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocumentStream
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q124")
    try {
      val store = s"$tmp/sigs"
      // survivor lineage stops at each batch's checkpointed assignment —
      // no checkpoint needed here, the deleted store is never re-read
      val s0 = DocumentStream.nearDupDedupBatch(
        docs.filter($"doc_id" % 2 === 0), store, 0.8, Some("batch_0"),
        allowLossy = true)
      val s1 = DocumentStream.nearDupDedupBatch(
        docs.filter($"doc_id" % 2 === 1), store, 0.8, Some("batch_1"),
        allowLossy = true)
      val drops = dropsTotal(s, store) // accounting over BOTH batches
      s0.unionByName(s1)
        .groupBy($"source").agg(count(lit(1)).as("n_survivors"))
        .withColumn("n_capped_pairs", lit(drops))
    } finally deleteRecursively(tmp)
  }

  /** COMPACTION NEUTRALITY through the oracle gate: three micro-batches
    * (doc_id % 4 == 0, then % 4 == 2, then the odds) flow through the
    * signature store, and the store is COMPACTED between the second and
    * third — the store holds TWO live tags at that point, so
    * [[graft.streaming.DocumentStream.compactSigStore]] genuinely
    * consolidates (an earlier shape compacted after a single batch_0
    * tag, which early-returns — a vacuous gate), and the query ASSERTS
    * the consolidated tag exists before batch 1 runs, so a silent
    * compaction no-op fails loudly instead of degenerating back into
    * q124. Reps are immutable, so the consolidation must not change a
    * single survivor; the oracle is the exact THREE-phase twin of the
    * streaming algorithm (phase A = components over %4==0 pairs; phase
    * B = %4==2 docs probed against stored evens, representative = min
    * stored phase-A rep when the component has one, else min new id;
    * phase C = the odds likewise against all stored evens). */
  def q133CompactedStreamDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DocumentStream
    val docs = load(s, dir, "documents")
    val tmp = graft.TempDirs.create("q133")
    try {
      val store = s"$tmp/sigs"
      val s0a = DocumentStream.nearDupDedupBatch(
        docs.filter($"doc_id" % 4 === 0), store, 0.8, Some("batch_0a"),
        allowLossy = true)
      val s0b = DocumentStream.nearDupDedupBatch(
        docs.filter($"doc_id" % 4 === 2), store, 0.8, Some("batch_0b"),
        allowLossy = true)
      DocumentStream.compactSigStore(s, store)
      val tags = DocumentStream.storeTags(s, store)
      if (!(tags.lengthIs == 1 && tags.head.matches(raw"compacted-\d+")))
        throw new IllegalStateException(
          s"q133 gate: expected exactly one compacted-N tag after " +
            s"mid-stream compaction, store holds [${tags.mkString(", ")}] " +
            "— compactSigStore silently no-opped")
      val s1 = DocumentStream.nearDupDedupBatch(
        docs.filter($"doc_id" % 2 === 1), store, 0.8, Some("batch_1"),
        allowLossy = true)
      val drops = dropsTotal(s, store)
      s0a.unionByName(s0b).unionByName(s1)
        .groupBy($"source").agg(count(lit(1)).as("n_survivors"))
        .withColumn("n_capped_pairs", lit(drops))
    } finally deleteRecursively(tmp)
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p) // must close: holds open dir fds
      val paths =
        try walk.iterator().asScala.toSeq.reverse
        finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  /** LEAKAGE-SAFE train/val/test split — the assignment rule an eval
    * pipeline must use: near-duplicate documents may NEVER straddle a
    * split boundary (a val doc whose near-copy sits in train leaks the
    * answer), so the split keys on the dedup-cluster REPRESENTATIVE
    * (the q51 component-min label; singletons key on themselves) hashed
    * with the engine-portable LCG into 90/5/5 percent buckets — whole
    * clusters co-assign by construction, and the assignment is
    * reproducible across runs/engines/partitionings. APPEND stability
    * is conditional: a new near-copy of an existing cluster inherits
    * that cluster's split only while the append neither introduces an
    * id BELOW the cluster's current min (ids assigned monotonically —
    * the usual ingest discipline) nor BRIDGES two existing clusters
    * (the merged component takes one min, so the other cluster's
    * members re-hash). A pipeline that needs hard append stability
    * freezes representatives in the streaming signature store
    * ([[graft.streaming.DocumentStream.nearDupDedupBatch]]'s
    * survivor-stable rep chain) and splits on the stored `rep`. One
    * LSH pipeline + one broadcast-scale join; no extra shuffles beyond
    * the clusterer's. */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val members = dedupClusterMembers(docs, threshold)
    // all caller columns pass through (Catalyst prunes what the caller
    // doesn't read); assignment depends only on doc_id/cluster_id
    val rep = docs
      .join(members, Seq("doc_id"), "left")
      .withColumn("rep", coalesce($"cluster_id", $"doc_id"))
    val bucket = ($"rep" % lit(1000003L)) * lit(2654435761L) %
      lit(1000003L) % lit(100L)
    rep.withColumn("split",
      when(bucket < 90, lit("train"))
        .when(bucket < 95, lit("val"))
        .otherwise(lit("test")))
  }

  def q131LeakageSafeSplit(s: SparkSession, dir: String): DataFrame =
    leakageSafeSplit(load(s, dir, "documents"))
      .groupBy($"split", $"source")
      .agg(count(lit(1)).as("n_docs"))

  /** Cross-source duplication matrix — WHERE is the corpus duplicated?
    * Near-dup pairs (the exact-verified LSH edges) aggregated by
    * normalized source pair; the dedup-pipeline analytics that decides
    * which source to drop from. Oracle: the exact all-pairs twin
    * grouped the same way. */
  def q65SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val (pairs, _) = lshNearDupPairs(docs, 0.8)
    val src = docs.select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("id_a"), $"source".as("src_a")), "id_a")
      .join(src.select($"doc_id".as("id_b"), $"source".as("src_b")), "id_b")
      .select(
        least($"src_a", $"src_b").as("source_x"),
        greatest($"src_a", $"src_b").as("source_y"))
      .groupBy($"source_x", $"source_y")
      .agg(count(lit(1)).as("n_dup_pairs"))
  }

  /** Document chunking — fixed token windows with overlap (the
    * RAG / pretraining-context split): 64-token chunks, stride 56
    * (8-token overlap), final short chunk keeps the tail. Stateless
    * explode — scan-speed, chunk rows land where their doc is. */
  def q66Chunking(s: SparkSession, dir: String): DataFrame = {
    val chunk = 64
    val stride = 56
    val n = size(toks($"text"))
    load(s, dir, "documents")
      .select($"doc_id", n.as("n_tok"))
      .select($"doc_id", $"n_tok",
        posexplode(sequence(lit(0), greatest($"n_tok" - 1, lit(0)), lit(stride))))
      .select(
        $"doc_id",
        $"pos".cast("long").as("chunk_idx"),
        $"col".cast("long").as("chunk_start"),
        least(lit(chunk), $"n_tok" - $"col").cast("long").as("chunk_tokens"))
  }

  /** SimHash (64-bit) per document: per bit j, sign of Σ_tokens ±1 by
    * token-hash bit j. Output is a stable content fingerprint whose
    * Hamming distance approximates cosine over token multisets.
    *
    * Single pass over the token array: the accumulator is a 64-slot
    * counter array updated per token (the round-2 form ran 64 separate
    * `aggregate` traversals per document). Each token's hash is bound
    * ONCE via the single-element-array wrap — higher-order functions
    * re-evaluate plain argument expressions per lambda element, so an
    * unbound `xxhash64(tok)` would hash 64× per token.
    *
    * Self-contained: the native 64-bit kernel is registered on the
    * active/default session here (idempotent), so a caller building
    * this Column outside `Tables.load` resolves too; widths other than
    * 64 route to the HOF twin (the native kernel is 64-bit-only). */
  def simhash(c: Column, nBits: Int = 64): Column =
    if (nBits == 64) {
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .foreach(graft.plans.VectorExpressions.register)
      call_function("simhash64", c)
    } else simhashHof(c, nBits)

  /** The higher-order-function SimHash — superseded by the native
    * codegen kernel ([[graft.plans.SimHashKernel]], what [[simhash]]
    * now calls) but kept as its independent semantic twin: TextOpsSpec
    * pins `simhashHof == simhash` over the full testdata corpus, so
    * the regression literals in the q27/q63 oracles are protected by
    * two implementations that would have to break identically. */
  def simhashHof(c: Column, nBits: Int = 64): Column =
    aggregate(
      toks(c),
      array_repeat(lit(0), nBits),
      (acc, tok) => element_at(
        transform(array(xxhash64(tok)), h =>
          transform(acc, (a, j) =>
            a + when(call_function("shiftright", h, j).bitwiseAND(1) === 1, 1)
              .otherwise(-1))),
        1),
      counts => aggregate(
        transform(counts, (cnt, j) =>
          when(cnt >= 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
        lit(0L),
        (a, b) => a.bitwiseOR(b)))

  /** SimHash dedup profile: distinct fingerprints + collision count.
    * xxhash64 is engine-side (no DuckDB twin), but the profile is fully
    * deterministic for a given corpus, so the oracle pins n_docs from the
    * data and the distinct-fingerprint count as a regression literal. */
  def q27SimHash(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select($"doc_id", simhash($"text").as("sh"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"sh").as("n_distinct_simhash"))

  /** Rolling polynomial fingerprint over characters
    * (acc*31 + code) mod 1e9+7 — the document-fingerprint op. */
  def fingerprint(c: Column): Column =
    aggregate(split(c, ""), lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % 1000000007L)

  /** Per-document fingerprints — exact-integer modular arithmetic, so the
    * DuckDB oracle recomputes every value via list_reduce and the full
    * 500-row result is hash-gated. */
  def q28Fingerprint(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select($"doc_id", fingerprint($"text").as("fp"))

  /** Quality-aware survivor selection — the decision a dedup pipeline
    * actually ships: per near-dup cluster, KEEP the highest-quality
    * member (longest document, id tie-break) and account the bytes
    * dropped. Labels come from [[dedupClusterMembers]]; the keep choice
    * is `max_by` over an exact integer composite key (quality·C + id,
    * C > max id) so the argmax is engine-exact — both engines pick the
    * same document, never a float-tie coin flip. One join (labels ⋈
    * docs on doc_id) + one groupBy on the cluster label. */
  def q73SurvivorSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    dedupClusterMembers(docs, 0.8)
      .join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .groupBy($"cluster_id")
      .agg(
        count(lit(1)).as("n_docs"),
        max_by($"doc_id", $"n_chars" * lit(10000000L) + $"doc_id").as("keep_doc"),
        (sum($"n_chars") - max($"n_chars")).cast("long").as("drop_chars"))
  }

  /** Per-source top-5 tokens — grouped top-k WITHOUT a global sort or
    * any driver round-trip: rank window partitioned by source over the
    * (source, token) counts; the count aggregate's shuffle already
    * clusters by source, so AQE plans the window on the same exchange.
    * The per-group heap shape every "top N per key" report needs. */
  def q77TopTokensPerSource(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val counts = load(s, dir, "documents")
      .select($"source", explode(toks($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"cnt".desc, $"w")
    counts.withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"source", $"w", $"cnt", $"rk".cast("long").as("rk"))
  }

  /** Length-decile bucketing — the size-stratification step before
    * curriculum mixing / packing-efficiency analysis: ntile(10) over
    * token counts per source, reported as per-(source, decile) doc and
    * token totals. Key-local window + same-key aggregate: one shuffle. */
  def q78LengthDeciles(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_tok", $"doc_id")
    load(s, dir, "documents")
      .select($"source", $"doc_id", size(toks($"text")).as("n_tok"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy($"source", $"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("n_tokens"))
  }

  /** Longest-documents-per-source via the NATIVE top-k operator: this
    * is the standard `row_number <= k` idiom, but because the rank
    * column is dropped from the output, [[graft.plans.TopKRewriteRule]]
    * rewrites the window into [[graft.plans.TopKPerKeyExec]] — bounded
    * per-key heaps, no sort buffer, survivors-only shuffle. Same rows
    * as the window form (plan-gated + parity-tested); memory is O(k·keys)
    * per task where the sort-based WindowGroupLimit path buffers the
    * whole partition. */
  def q79TopDocsNative(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
    load(s, dir, "documents")
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"source", $"doc_id", $"n_chars")
  }

  /** The `rank()` variant of [[q79TopDocsNative]] — KEEPS ties at the
    * k-th length, so the answer is a deterministic SET with no
    * tie-break column needed. Same native rewrite, but the physical
    * operator runs the ordered tie-bucket path (everything tied at or
    * above the k-th distinct... k-th value survives) instead of the
    * bounded heap; the DuckDB twin's rank() pins the tie semantics
    * cross-engine. */
  def q117TopDocsRanked(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars".desc)
    load(s, dir, "documents")
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("rk", rank().over(w))
      .filter($"rk" <= k)
      .select($"source", $"doc_id", $"n_chars")
  }

  /** The `dense_rank()` variant: top-k distinct LENGTH LEVELS per
    * source, every doc on those levels kept — the "k best tiers"
    * idiom. Same native tie-bucket operator as q117, dense counting
    * pinned by DuckDB's dense_rank(). */
  def q120TopDocsDense(s: SparkSession, dir: String, k: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars".desc)
    load(s, dir, "documents")
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("rk", dense_rank().over(w))
      .filter($"rk" <= k)
      .select($"source", $"doc_id", $"n_chars")
  }

  /** Pairwise source-distribution divergence — the domain-shift matrix
    * of corpus assembly: L1 distance between per-source token frequency
    * distributions (ppm-scaled, exact integers — transcendental
    * KL/JS divergence diverges between engines at the ULP; L1 over
    * integer ppm is engine-exact and the same ranking signal). The
    * union-of-vocabulary L1 decomposes as inner-join terms plus each
    * side's unmatched mass (Σ|pa−pb| over shared tokens + (Σpa − shared
    * pa) + (Σpb − shared pb)), so the plan is ONE token-key join over
    * the per-source ppm table — the inverted-index shuffle shape, never
    * a vocabulary pivot. Output: one row per source pair. */
  def q75SourceDivergence(s: SparkSession, dir: String): DataFrame = {
    val w = load(s, dir, "documents")
      .select($"source", explode(toks($"text")).as("w"))
    val counts = w.groupBy($"source", $"w").agg(count(lit(1)).as("c"))
    val tot = counts.groupBy($"source").agg(sum($"c").as("t"))
    val ppm = counts.join(tot, "source")
      .select($"source", $"w", expr("(c * 1000000) div t").as("ppm"))
    val totPpm = ppm.groupBy($"source").agg(sum($"ppm").as("tp"))
    val shared = ppm.as("a").join(ppm.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(
        sum(abs(col("a.ppm") - col("b.ppm"))).as("inner_abs"),
        sum(col("a.ppm")).as("inner_pa"),
        sum(col("b.ppm")).as("inner_pb"))
    shared
      .join(broadcast(totPpm.select($"source".as("source_a"), $"tp".as("tpa"))), "source_a")
      .join(broadcast(totPpm.select($"source".as("source_b"), $"tp".as("tpb"))), "source_b")
      .select($"source_a", $"source_b",
        ($"inner_abs" + ($"tpa" - $"inner_pa") + ($"tpb" - $"inner_pb"))
          .cast("long").as("l1_ppm"))
  }

  /** The END-TO-END curation pipeline — the composition a real corpus
    * run ships, as ONE DataFrame flow: (1) near-dup clustering with
    * quality-argmax survivor selection (q51/q73 machinery), (2) n-gram
    * decontamination against the benchmark split (q55 rule), (3) the
    * quality gates (q52 conditions), with per-source funnel accounting
    * at every stage plus surviving token mass. Each stage is the
    * already-scale-audited plan of its standalone operator; the
    * composition adds only two anti-joins (pruned id lists, broadcast-
    * sized at any scale because drops ≪ corpus). */
  def q80CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val corpus = docs.filter($"doc_id" >= 10)
    // 1. dedup: drop every cluster member except the quality survivor
    val members = dedupClusterMembers(corpus, 0.8)
    val keep = members.join(corpus.select($"doc_id", $"n_chars"), "doc_id")
      .groupBy($"cluster_id")
      .agg(max_by($"doc_id", $"n_chars" * lit(10000000L) + $"doc_id").as("keep_doc"))
    val dropDedup = members.join(keep, "cluster_id")
      .filter($"doc_id" =!= $"keep_doc").select($"doc_id")
    val deduped = corpus.join(broadcast(dropDedup), Seq("doc_id"), "left_anti")
    // 2. decontamination (q55 rule: ≥3 distinct benchmark shingles)
    val bench = docs.filter($"doc_id" < 10)
      .select(explode(shingles($"text")).as("g")).distinct()
    val contaminated = deduped
      .select($"doc_id", explode(shingles($"text")).as("g"))
      .join(broadcast(bench), "g")
      .groupBy($"doc_id").agg(countDistinct($"g").as("n_hits"))
      .filter($"n_hits" >= 3).select($"doc_id")
    val decon = deduped.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // 3. quality gates (q52 conditions)
    val t = toks($"text")
    val nTok = size(t)
    val stopRatio = size(filter(t, x => x.isin(stopwords: _*))).cast("double") / nTok
    val fin = decon
      .select($"source", nTok.as("n_tokens"), stopRatio.as("stop_ratio"), $"lang")
      .filter($"lang" === "en" && $"n_tokens".between(30, 120) && $"stop_ratio" > 0.05)
    // funnel accounting per source
    val c0 = corpus.groupBy($"source").agg(count(lit(1)).as("n_input"))
    val c1 = deduped.groupBy($"source").agg(count(lit(1)).as("n_after_dedup"))
    val c2 = decon.groupBy($"source").agg(count(lit(1)).as("n_after_decon"))
    val c3 = fin.groupBy($"source").agg(
      count(lit(1)).as("nf"), sum($"n_tokens").cast("long").as("tf"))
    c0.join(c1, Seq("source"), "left")
      .join(c2, Seq("source"), "left")
      .join(c3, Seq("source"), "left")
      .select($"source", $"n_input",
        coalesce($"n_after_dedup", lit(0L)).as("n_after_dedup"),
        coalesce($"n_after_decon", lit(0L)).as("n_after_decon"),
        coalesce($"nf", lit(0L)).as("n_final"),
        coalesce($"tf", lit(0L)).as("tokens_final"))
  }

  /** Bloom-prefiltered decontamination — q55's semantics with the SCALE
    * physical plan: when the benchmark shingle set is too large to
    * broadcast as an exact set (full eval-suite decontamination at 100 TB),
    * build a Bloom sketch over it (`DataFrameStatFunctions.bloomFilter`,
    * a distributed treeAggregate), broadcast the ~MB sketch, and
    * prefilter the corpus-shingle stream BEFORE the join — ~99% of clean
    * shingles never reach the shuffle. Bloom filters have no false
    * negatives, and the exact join behind the prefilter removes the
    * false positives, so the RESULT is exactly q55's (and oracle-gated
    * to the same SQL). The probe is the one deliberate JVM-UDF in the
    * library: `mightContainString` has no Column-API equivalent, the
    * lambda is a single hash probe, and it runs BEHIND the codegen'd
    * shingle explode. */
  def q67BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val bench = docs.filter($"doc_id" < 10)
      .select(explode(shingles($"text")).as("g")).distinct()
    val bf = bench.stat.bloomFilter("g", 100000L, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((g: String) => bfB.value.mightContainString(g))
    val corpus = docs.filter($"doc_id" >= 10)
      .select($"doc_id", $"source", explode(shingles($"text")).as("g"))
      .filter(mightContain($"g"))
    corpus.join(broadcast(bench), "g")
      .groupBy($"doc_id", $"source")
      .agg(countDistinct($"g").as("n_hits"))
      .filter($"n_hits" >= 3)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_contaminated"),
        sum($"n_hits").cast("long").as("total_hits"))
  }

  /** Vocabulary heavy hitters — the corpus-frequency profile that drives
    * stopword lists, tokenizer vocab pruning, and boilerplate spotting.
    * Partial aggregation shrinks the shuffle to one row per distinct
    * token per partition; the top-k is TakeOrderedAndProject (per-
    * partition heaps + driver merge), never a global sort. */
  def q68HeavyHitters(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    load(s, dir, "documents")
      .select(explode(toks($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"w")
      .limit(k)

  /** Fixed-width token windows of a document (distinct), stride 1 — the
    * unit of substring-level dedup. Same once-bound lambda shape as
    * [[shingles]]. Documents shorter than `n` tokens yield their whole
    * text as the single window. */
  def tokenWindows(c: Column, n: Int): Column =
    element_at(
      transform(array(toks(c)), t =>
        when(size(t) >= n,
          array_distinct(
            transform(sequence(lit(1), size(t) - (n - 1)),
              i => concat_ws(" ", slice(t, i, lit(n))))))
          .otherwise(array(concat_ws(" ", t)))),
      1)

  /** Substring-level duplication profile — the measure behind exact
    * substring dedup (long verbatim overlaps that Jaccard-over-shingles
    * dilutes): how many distinct 8-token windows occur in ≥ 2 documents,
    * and what fraction of the corpus window-vocabulary that is (ppm,
    * exact integer division). One explode + one groupBy on the window
    * key — the inverted-index shuffle shape, never doc-pairs. */
  def q69SubstringDup(s: SparkSession, dir: String): DataFrame =
    dupProfileFromIndex(load(s, dir, "documents")
      .select($"doc_id", explode(tokenWindows($"text", 8)).as("g")))

  /** The four-column substring-dup profile over a (doc-distinct)
    * inverted index with key column `g` — the output contract shared by
    * [[q69SubstringDup]] (exact window strings),
    * [[substringDupProfileHashed]] (hashed keys) and
    * [[graft.operators.MiningOps.substringDupProfileWinnowed]]
    * (winnowed fingerprints): one key groupBy + one global aggregate,
    * never doc-pairs. Index rows are per-doc distinct, so count(*) per
    * key == countDistinct(doc_id). */
  private[graft] def dupProfileFromIndex(idx: DataFrame): DataFrame = {
    val byW = idx.groupBy($"g").agg(count(lit(1)).as("nd"))
    byW.groupBy().agg(
        count(lit(1)).as("n_windows"),
        count(when($"nd" >= 2, lit(1))).as("n_shared_windows"),
        coalesce(sum(when($"nd" >= 2, $"nd")), lit(0L)).cast("long")
          .as("n_shared_occurrences"))
      .select($"n_windows", $"n_shared_windows", $"n_shared_occurrences",
        expr("(n_shared_windows * 1000000) div n_windows").as("dup_ppm"))
  }

  /** The 100 TB wire format of [[q69SubstringDup]]: shuffle 8-byte
    * `xxhash64(window)` keys instead of ~50-byte window strings (a 6×
    * smaller shuffle at 8-token windows). Collision probability over n
    * distinct windows is ≈ n²/2⁶⁵ — at 10¹² windows, ~3% chance of ONE
    * collision affecting one count by one; the exact-string form stays
    * the oracle gate, this is the production profile. Same plan shape. */
  def substringDupProfileHashed(docs: DataFrame): DataFrame =
    dupProfileFromIndex(docs
      .select($"doc_id", explode(tokenWindows($"text", 8)).as("gs"))
      .select($"doc_id", xxhash64($"gs").as("g")))

  /** Sequence packing — the document→training-sequence assembly step of
    * an LLM pretraining pipeline: concatenate each source's documents in
    * doc_id order and cut the stream into 256-token packs; report docs
    * and tokens per pack. The pack assignment is a running-sum window
    * (key-local, one shuffle on source); at 100 TB the window
    * partitions by (source, shard) and packs stay shard-local. */
  def q70SeqPacking(s: SparkSession, dir: String, packLen: Int = 256): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
    load(s, dir, "documents")
      .select($"source", $"doc_id", size(toks($"text")).as("n_tok"))
      .withColumn("start_off", sum($"n_tok").over(w) - $"n_tok")
      .withColumn("pack_id", expr(s"start_off div $packLen"))
      .groupBy($"source", $"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("n_tokens"))
  }

  /** q187 — pack BOUNDARY map: q70 reports per-pack totals; training
    * also needs WHERE each document lands so the attention mask can
    * block cross-document attention inside a packed sequence. One row
    * per (document, pack) segment: a document starting at global
    * offset s with n tokens spans packs ⌊s/L⌋..⌊(s+n−1)/L⌋; its segment
    * in pack p starts at max(s, pL) − pL and runs to min(s+n, (p+1)L).
    * Segments TILE each pack exactly (no gaps, no overlaps — a law),
    * so the mask is reconstructible from this table alone. Same plan
    * as q70 — one source-keyed window for the running offset — plus a
    * map-side explode of ⌈n/L⌉+1 segment rows per doc; at 100 TB the
    * window partitions by (source, shard) like q70's. */
  def q187PackBoundaries(s: SparkSession, dir: String,
      packLen: Int = 256): DataFrame = {
    val L = packLen.toLong
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
    load(s, dir, "documents")
      .select($"source", $"doc_id", size(toks($"text")).cast("long").as("n_tok"))
      .filter($"n_tok" > 0)
      .withColumn("start_off", sum($"n_tok").over(w) - $"n_tok")
      .select($"source", $"doc_id", $"n_tok", $"start_off",
        explode(sequence(expr(s"start_off div $L"),
          expr(s"(start_off + n_tok - 1) div $L"))).as("pack_id"))
      .select($"source", $"pack_id", $"doc_id",
        (greatest($"start_off", $"pack_id" * L) - $"pack_id" * L)
          .as("pos_in_pack"),
        (least($"start_off" + $"n_tok", ($"pack_id" + 1L) * L) -
          greatest($"start_off", $"pack_id" * L)).as("seg_len"))
  }

  /** Prefix-duplication groups — head-overlap dedup (mirrored posts,
    * templated boilerplate openings): documents sharing their first five
    * tokens, with the min-doc_id survivor. Hash-groupBy on the prefix —
    * exact dedup's shuffle shape, not a pair join. */
  def q71PrefixDup(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select($"doc_id",
        concat_ws(" ", slice(toks($"text"), 1, 5)).as("prefix"))
      .groupBy($"prefix")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("survivor"))
      .filter($"n_docs" >= 2)

  val oracles: Map[String, String] = Map(
    // compaction neutrality: the three-phase twin — folding the store's
    // two batch partitions mid-stream must change NOTHING vs the plain
    // three-batch replay
    "q133_compacted_stream_dedup" -> ThreePhaseStreamingTwinSql,
    // q73 reuses q51's recursive-CTE clustering, joined to documents for
    // the quality-argmax; the composite key n_chars·10⁷ + doc_id is the
    // same exact-integer tie-break on both engines.
    "q73_survivor_select" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges)
        |, cc AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN edges e ON r.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r GROUP BY 1)
        |SELECT CAST(cc.label AS BIGINT) AS cluster_id,
        |CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(arg_max(d.doc_id, d.n_chars * 10000000 + d.doc_id) AS BIGINT) AS keep_doc,
        |CAST(sum(d.n_chars) - max(d.n_chars) AS BIGINT) AS drop_chars
        |FROM cc JOIN documents d ON d.doc_id = cc.id GROUP BY 1""".stripMargin,
    "q79_top_docs_native" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT source, doc_id, n_chars FROM r WHERE rk <= 3""".stripMargin,
    "q117_top_docs_ranked" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |  rank() OVER (PARTITION BY source ORDER BY n_chars DESC) AS rk
        |  FROM documents)
        |SELECT source, doc_id, n_chars FROM r WHERE rk <= 3""".stripMargin,
    "q120_top_docs_dense" ->
      """WITH r AS (SELECT source, doc_id, n_chars,
        |  dense_rank() OVER (PARTITION BY source ORDER BY n_chars DESC) AS rk
        |  FROM documents)
        |SELECT source, doc_id, n_chars FROM r WHERE rk <= 2""".stripMargin,
    // q80 composes the q73 cluster CTE, the q55 contamination rule and
    // the q52 gates; contaminated(dedup) == contaminated(corpus) ∩ dedup,
    // so hits are computed over the corpus (set-equivalent, simpler SQL)
    "q80_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 10),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges)
        |, cc AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN edges e ON r.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r GROUP BY 1),
        |keepers AS (SELECT cc.label,
        |  arg_max(d.doc_id, d.n_chars * 10000000 + d.doc_id) AS keep_doc
        |  FROM cc JOIN documents d ON d.doc_id = cc.id GROUP BY 1),
        |drop_dedup AS (SELECT cc.id AS doc_id FROM cc
        |  JOIN keepers k ON k.label = cc.label WHERE cc.id != k.keep_doc),
        |dedup AS (SELECT * FROM documents WHERE doc_id >= 10
        |  AND doc_id NOT IN (SELECT doc_id FROM drop_dedup)),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
        |hits AS (SELECT e.doc_id FROM e JOIN bench b ON e.g = b.g
        |  GROUP BY 1 HAVING count(DISTINCT e.g) >= 3),
        |decon AS (SELECT * FROM dedup
        |  WHERE doc_id NOT IN (SELECT doc_id FROM hits)),
        |fin AS (SELECT source, len(string_split(text,' ')) AS n_tokens FROM decon
        |  WHERE lang = 'en' AND len(string_split(text,' ')) BETWEEN 30 AND 120
        |  AND CAST(len(list_filter(string_split(text,' '),
        |    x -> x IN ('the','a','of','and'))) AS DOUBLE)
        |    / len(string_split(text,' ')) > 0.05),
        |c0 AS (SELECT source, count(*) AS n_input FROM documents
        |  WHERE doc_id >= 10 GROUP BY 1),
        |c1 AS (SELECT source, count(*) AS n_after_dedup FROM dedup GROUP BY 1),
        |c2 AS (SELECT source, count(*) AS n_after_decon FROM decon GROUP BY 1),
        |c3 AS (SELECT source, count(*) AS nf, sum(n_tokens) AS tf FROM fin GROUP BY 1)
        |SELECT c0.source, CAST(n_input AS BIGINT) AS n_input,
        |CAST(coalesce(n_after_dedup, 0) AS BIGINT) AS n_after_dedup,
        |CAST(coalesce(n_after_decon, 0) AS BIGINT) AS n_after_decon,
        |CAST(coalesce(nf, 0) AS BIGINT) AS n_final,
        |CAST(coalesce(tf, 0) AS BIGINT) AS tokens_final
        |FROM c0 LEFT JOIN c1 USING (source) LEFT JOIN c2 USING (source)
        |LEFT JOIN c3 USING (source)""".stripMargin,
    "q77_top_tokens_per_source" ->
      """WITH c AS (SELECT source, w, count(*) AS cnt FROM
        |  (SELECT source, unnest(string_split(text,' ')) AS w FROM documents)
        |  GROUP BY 1,2),
        |r AS (SELECT source, w, cnt,
        |  row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS rk FROM c)
        |SELECT source, w, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5""".stripMargin,
    "q78_length_deciles" ->
      """WITH d AS (SELECT source, doc_id, len(string_split(text,' ')) AS n_tok
        |  FROM documents),
        |n AS (SELECT source, n_tok,
        |  ntile(10) OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS decile FROM d)
        |SELECT source, CAST(decile AS BIGINT) AS decile,
        |CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM n GROUP BY 1,2""".stripMargin,
    "q75_source_divergence" ->
      """WITH w AS (SELECT source, unnest(string_split(text,' ')) AS w FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1,2),
        |t AS (SELECT source, sum(c) AS t FROM c GROUP BY 1),
        |ppm AS (SELECT c.source, c.w, (c.c * 1000000) // t.t AS ppm FROM c JOIN t USING (source)),
        |tp AS (SELECT source, sum(ppm) AS tp FROM ppm GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |  sum(abs(a.ppm - b.ppm)) AS iabs, sum(a.ppm) AS ipa, sum(b.ppm) AS ipb
        |  FROM ppm a JOIN ppm b ON a.w = b.w AND a.source < b.source GROUP BY 1,2)
        |SELECT source_a, source_b,
        |CAST(iabs + (ta.tp - ipa) + (tb.tp - ipb) AS BIGINT) AS l1_ppm
        |FROM sh JOIN tp ta ON ta.source = source_a
        |JOIN tp tb ON tb.source = source_b""".stripMargin,
    // q67 is q55's semantics behind a Bloom prefilter (no false
    // negatives + exact verify ⇒ identical result), so the oracle is the
    // same exact-containment SQL.
    "q67_bloom_decontaminate" ->
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, source, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
        |corpus AS (SELECT doc_id, source, unnest(s) AS g FROM sh WHERE doc_id >= 10),
        |hits AS (SELECT c.doc_id, c.source, count(DISTINCT c.g) AS n_hits
        |  FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1,2 HAVING count(DISTINCT c.g) >= 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated,
        |CAST(sum(n_hits) AS BIGINT) AS total_hits FROM hits GROUP BY 1""".stripMargin,
    "q68_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text,' ')) AS w FROM documents)
        |SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM w
        |GROUP BY 1 ORDER BY cnt DESC, w LIMIT 20""".stripMargin,
    "q69_substring_dup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |wn AS (SELECT doc_id, CASE WHEN len(tk) >= 8
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-7),
        |      i -> array_to_string(list_slice(tk, i, i+7), ' ')))
        |    ELSE [array_to_string(tk, ' ')] END AS ws FROM t),
        |g AS (SELECT count(*) AS nd FROM (SELECT doc_id, unnest(ws) AS g FROM wn) GROUP BY g)
        |SELECT CAST(count(*) AS BIGINT) AS n_windows,
        |CAST(count(CASE WHEN nd >= 2 THEN 1 END) AS BIGINT) AS n_shared_windows,
        |CAST(coalesce(sum(CASE WHEN nd >= 2 THEN nd END), 0) AS BIGINT) AS n_shared_occurrences,
        |CAST((count(CASE WHEN nd >= 2 THEN 1 END) * 1000000) // count(*) AS BIGINT) AS dup_ppm
        |FROM g""".stripMargin,
    // q187 replays the same running-offset window, then expands each
    // doc to its pack span and clips the segment bounds — pure integer
    // min/max arithmetic on both engines
    "q187_pack_boundaries" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id)
        |      - n_tok AS BIGINT) AS start_off
        |  FROM d WHERE n_tok > 0),
        |seg AS (SELECT source, doc_id, n_tok, start_off,
        |    unnest(generate_series(start_off // 256,
        |      (start_off + n_tok - 1) // 256)) AS pack_id FROM c)
        |SELECT source, CAST(pack_id AS BIGINT) AS pack_id, doc_id,
        |  CAST(greatest(start_off, pack_id * 256) - pack_id * 256 AS BIGINT)
        |    AS pos_in_pack,
        |  CAST(least(start_off + n_tok, (pack_id + 1) * 256)
        |    - greatest(start_off, pack_id * 256) AS BIGINT) AS seg_len
        |FROM seg""".stripMargin,
    "q70_seq_packing" ->
      """WITH d AS (SELECT source, doc_id, len(string_split(text,' ')) AS n_tok FROM documents),
        |c AS (SELECT source, doc_id, n_tok,
        |  sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok AS start_off FROM d)
        |SELECT source, CAST(start_off // 256 AS BIGINT) AS pack_id,
        |CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1,2""".stripMargin,
    "q71_prefix_dup" ->
      """WITH p AS (SELECT doc_id,
        |  array_to_string(list_slice(string_split(text,' '), 1, 5), ' ') AS prefix
        |  FROM documents)
        |SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(min(doc_id) AS BIGINT) AS survivor
        |FROM p GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    "q66_chunking" ->
      """WITH t AS (SELECT doc_id, len(string_split(text,' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  unnest(generate_series(0, n_tok - 1, 56)) AS chunk_start,
        |  generate_subscripts(generate_series(0, n_tok - 1, 56), 1) - 1 AS chunk_idx
        |  FROM t)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |CAST(chunk_start AS BIGINT) AS chunk_start,
        |CAST(least(64, n_tok - chunk_start) AS BIGINT) AS chunk_tokens
        |FROM c""".stripMargin,
    "q64_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
        |CAST((inter * 10000) // least(sa.n, sb.n) AS BIGINT) AS containment_scaled,
        |CAST(0 AS BIGINT) AS n_hot_shingles, CAST(0 AS BIGINT) AS n_dropped_postings
        |FROM i JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE (inter * 10000) // least(sa.n, sb.n) >= 8000""".stripMargin,
    "q65_source_overlap" ->
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, source, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM i
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |lab AS (SELECT p.da, p.db, x.source AS src_a, y.source AS src_b
        |  FROM pairs p JOIN t x ON x.doc_id = p.da JOIN t y ON y.doc_id = p.db)
        |SELECT least(src_a, src_b) AS source_x, greatest(src_a, src_b) AS source_y,
        |CAST(count(*) AS BIGINT) AS n_dup_pairs
        |FROM lab GROUP BY 1, 2""".stripMargin,
    "q58_token_rarity" ->
      """WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
        |  FROM documents),
        |df AS (SELECT w, count(*) AS df FROM w GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct_tokens,
        |CAST(sum(df.df) AS BIGINT) AS df_sum
        |FROM w JOIN df USING (w) GROUP BY 1""".stripMargin,
    "q59_tfidf_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |q AS (SELECT * FROM t WHERE w IN ('data','join','dup')),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM q GROUP BY 1,2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_corpus FROM documents)
        |SELECT doc_id, CAST(sum(tf * ((n_corpus * 1000000) // df)) AS BIGINT) AS score_scaled
        |FROM tf JOIN df USING (w) CROSS JOIN n
        |GROUP BY 1 ORDER BY score_scaled DESC, doc_id LIMIT 10""".stripMargin,
    "q60_domain_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |t AS (SELECT sum(n_docs) AS total, min(n_docs) AS min_n FROM c)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |CAST((n_docs * 1000000) // total AS BIGINT) AS share_ppm,
        |CAST((min_n * 1000000) // n_docs AS BIGINT) AS equalize_keep_ppm
        |FROM c CROSS JOIN t""".stripMargin,
    "q23_minhash" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs, CAST(0 AS BIGINT) AS n_capped_pairs
        |FROM i JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8""".stripMargin,
    "q123_stream_dedup_core" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges)
        |, cc AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN edges e ON r.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_survivors,
        |CAST(0 AS BIGINT) AS n_capped_pairs
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM cc WHERE id != label)
        |GROUP BY 1""".stripMargin,
    // split keys on the q51 cluster-min representative, LCG-hashed into
    // 90/5/5 buckets — the recursive-CTE labels replay the clusterer
    "q131_leakage_safe_split" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges)
        |, cc AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN edges e ON r.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r GROUP BY 1),
        |rep AS (SELECT d.doc_id, d.source,
        |  coalesce(cc.label, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN cc ON cc.id = d.doc_id),
        |b AS (SELECT source,
        |  ((rep % 1000003) * 2654435761) % 1000003 % 100 AS bucket FROM rep)
        |SELECT CASE WHEN bucket < 90 THEN 'train'
        |  WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |  source, CAST(count(*) AS BIGINT) AS n_docs
        |FROM b GROUP BY 1,2""".stripMargin,
    // exact two-phase streaming twin — see q124StreamDedupMultiBatch's
    // scaladoc for why this is NOT the plain union cluster-min
    "q124_stream_dedup_multibatch" -> TwoPhaseStreamingTwinSql,
  ) ++ extraOracles

  /** The q124/q133 oracle — the exact two-phase twin of the streaming
    * dedup algorithm over the deterministic even/odd batch split.
    * (`lazy`: the `oracles` map above reads it during object init.) */
  private lazy val TwoPhaseStreamingTwinSql: String =
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |e1 AS (SELECT da AS src, db AS dst FROM pairs
        |    WHERE da % 2 = 0 AND db % 2 = 0
        |  UNION ALL SELECT db, da FROM pairs WHERE da % 2 = 0 AND db % 2 = 0),
        |n1 AS (SELECT DISTINCT src AS id FROM e1)
        |, cc1 AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT id, id FROM n1
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN e1 e ON r.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r GROUP BY 1),
        |rep1 AS (SELECT d.doc_id, coalesce(c.label, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN cc1 c ON c.id = d.doc_id
        |  WHERE d.doc_id % 2 = 0),
        |e2 AS (SELECT da AS src, db AS dst FROM pairs
        |    WHERE da % 2 = 1 OR db % 2 = 1
        |  UNION ALL SELECT db, da FROM pairs WHERE da % 2 = 1 OR db % 2 = 1),
        |n2 AS (SELECT DISTINCT src AS id FROM e2)
        |, cc2 AS (
        |  WITH RECURSIVE r2(id, lbl) AS (
        |    SELECT id, id FROM n2
        |    UNION
        |    SELECT e.dst, r2.lbl FROM r2 JOIN e2 e ON r2.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r2 GROUP BY 1),
        |m2 AS (SELECT c.label, c.id, r.rep AS stored_rep
        |  FROM cc2 c LEFT JOIN rep1 r ON r.doc_id = c.id),
        |fr AS (SELECT label, coalesce(min(stored_rep), min(id)) AS final_rep
        |  FROM m2 GROUP BY 1),
        |drop1 AS (SELECT id FROM cc1 WHERE id != label),
        |drop2 AS (SELECT m.id FROM m2 m JOIN fr ON fr.label = m.label
        |  WHERE m.id % 2 = 1 AND m.id != fr.final_rep)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_survivors,
        |CAST(0 AS BIGINT) AS n_capped_pairs
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM drop1)
        |  AND d.doc_id NOT IN (SELECT id FROM drop2)
        |GROUP BY 1""".stripMargin

  /** q133's oracle: the exact THREE-phase twin of the streaming
    * algorithm with batches A = doc_id%4==0, B = doc_id%4==2, C = odds.
    * Phase A is a plain cluster-min over A-A pairs; phases B and C each
    * model the incremental probe — components over the verified pairs
    * touching at least one batch doc (the other endpoint anywhere in
    * store ∪ batch), representative = min STORED rep when the component
    * has a stored member (survivor stability), else min new id. The
    * store's rep map after B is phase-A reps for A docs and phase-B
    * final reps for B docs — exactly what batch C's candidates inherit
    * transitively. Compaction between B and C must not perturb any of
    * this, which is the gated invariant. */
  private lazy val ThreePhaseStreamingTwinSql: String =
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |ea AS (SELECT da AS src, db AS dst FROM pairs
        |    WHERE da % 4 = 0 AND db % 4 = 0
        |  UNION ALL SELECT db, da FROM pairs WHERE da % 4 = 0 AND db % 4 = 0),
        |na AS (SELECT DISTINCT src AS id FROM ea)
        |, cca AS (
        |  WITH RECURSIVE ra(id, lbl) AS (
        |    SELECT id, id FROM na
        |    UNION
        |    SELECT e.dst, ra.lbl FROM ra JOIN ea e ON ra.id = e.src)
        |  SELECT id, min(lbl) AS label FROM ra GROUP BY 1),
        |repa AS (SELECT d.doc_id, coalesce(c.label, d.doc_id) AS rep
        |  FROM documents d LEFT JOIN cca c ON c.id = d.doc_id
        |  WHERE d.doc_id % 4 = 0),
        |eb AS (SELECT da AS src, db AS dst FROM pairs
        |    WHERE da % 2 = 0 AND db % 2 = 0 AND (da % 4 = 2 OR db % 4 = 2)
        |  UNION ALL SELECT db, da FROM pairs
        |    WHERE da % 2 = 0 AND db % 2 = 0 AND (da % 4 = 2 OR db % 4 = 2)),
        |nb AS (SELECT DISTINCT src AS id FROM eb)
        |, ccb AS (
        |  WITH RECURSIVE rb(id, lbl) AS (
        |    SELECT id, id FROM nb
        |    UNION
        |    SELECT e.dst, rb.lbl FROM rb JOIN eb e ON rb.id = e.src)
        |  SELECT id, min(lbl) AS label FROM rb GROUP BY 1),
        |mb AS (SELECT c.label, c.id, r.rep AS stored_rep
        |  FROM ccb c LEFT JOIN repa r ON r.doc_id = c.id),
        |fb AS (SELECT label, coalesce(min(stored_rep), min(id)) AS final_rep
        |  FROM mb GROUP BY 1),
        |repstore AS (SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 4 = 0 THEN ra.rep
        |       ELSE coalesce(bf.final_rep, d.doc_id) END AS rep
        |  FROM documents d
        |  LEFT JOIN repa ra ON ra.doc_id = d.doc_id
        |  LEFT JOIN (SELECT m.id, f.final_rep FROM mb m
        |    JOIN fb f ON f.label = m.label) bf ON bf.id = d.doc_id
        |  WHERE d.doc_id % 2 = 0),
        |ec AS (SELECT da AS src, db AS dst FROM pairs
        |    WHERE da % 2 = 1 OR db % 2 = 1
        |  UNION ALL SELECT db, da FROM pairs WHERE da % 2 = 1 OR db % 2 = 1),
        |nc AS (SELECT DISTINCT src AS id FROM ec)
        |, ccc AS (
        |  WITH RECURSIVE rc(id, lbl) AS (
        |    SELECT id, id FROM nc
        |    UNION
        |    SELECT e.dst, rc.lbl FROM rc JOIN ec e ON rc.id = e.src)
        |  SELECT id, min(lbl) AS label FROM rc GROUP BY 1),
        |mc AS (SELECT c.label, c.id, r.rep AS stored_rep
        |  FROM ccc c LEFT JOIN repstore r ON r.doc_id = c.id),
        |fc AS (SELECT label, coalesce(min(stored_rep), min(id)) AS final_rep
        |  FROM mc GROUP BY 1),
        |dropa AS (SELECT id FROM cca WHERE id != label),
        |dropb AS (SELECT m.id FROM mb m JOIN fb ON fb.label = m.label
        |  WHERE m.id % 4 = 2 AND m.id != fb.final_rep),
        |dropc AS (SELECT m.id FROM mc m JOIN fc ON fc.label = m.label
        |  WHERE m.id % 2 = 1 AND m.id != fc.final_rep)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_survivors,
        |CAST(0 AS BIGINT) AS n_capped_pairs
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM dropa)
        |  AND d.doc_id NOT IN (SELECT id FROM dropb)
        |  AND d.doc_id NOT IN (SELECT id FROM dropc)
        |GROUP BY 1""".stripMargin

  // lazy: the `oracles` map above concatenates this during object init
  private lazy val extraOracles: Map[String, String] = Map(
    "q51_dedup_clusters" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges)
        |, cc AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN edges e ON r.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r GROUP BY 1)
        |SELECT CAST(label AS BIGINT) AS cluster_id, CAST(count(*) AS BIGINT) AS n_docs
        |FROM cc GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    // q51's clustering CTE chain, then 1/n milli-doc weights per source
    "q140_soft_dedup_size" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |e AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT da, db FROM p
        |  JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |  WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.8),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |  UNION ALL SELECT db, da FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges)
        |, cc AS (
        |  WITH RECURSIVE r(id, lbl) AS (
        |    SELECT id, id FROM nodes
        |    UNION
        |    SELECT e.dst, r.lbl FROM r JOIN edges e ON r.id = e.src)
        |  SELECT id, min(lbl) AS label FROM r GROUP BY 1),
        |csz AS (SELECT label, count(*) AS cl_n FROM cc GROUP BY 1),
        |w AS (SELECT d.doc_id, d.source,
        |  coalesce(1000 // csz.cl_n, 1000) AS w_milli
        |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
        |  LEFT JOIN csz ON cc.label = csz.label)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w_milli) AS BIGINT) AS eff_millidocs
        |FROM w GROUP BY 1""".stripMargin,
    "q55_decontamination" ->
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id, source, CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END AS s FROM t),
        |bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 10),
        |corpus AS (SELECT doc_id, source, unnest(s) AS g FROM sh WHERE doc_id >= 10),
        |hits AS (SELECT c.doc_id, c.source, count(DISTINCT c.g) AS n_hits
        |  FROM corpus c JOIN bench b ON c.g = b.g GROUP BY 1,2 HAVING count(DISTINCT c.g) >= 3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_contaminated,
        |CAST(sum(n_hits) AS BIGINT) AS total_hits FROM hits GROUP BY 1""".stripMargin,
    "q56_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |f AS (SELECT doc_id, greatest(len(tk)-2, 1) AS total,
        |  len(CASE WHEN len(tk) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(tk)-2),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    ELSE [array_to_string(tk, ' ')] END) AS n_distinct FROM t)
        |SELECT doc_id, CAST(total AS BIGINT) AS n_shingles,
        |CAST(n_distinct AS BIGINT) AS n_distinct,
        |CAST(floor((1.0 - CAST(n_distinct AS DOUBLE)/total) * 1e4 + 0.5) AS BIGINT) AS rep_scaled
        |FROM f""".stripMargin,
    "q52_quality_funnel" ->
      """WITH f AS (SELECT source, lang, len(string_split(text,' ')) AS n_tokens,
        |  CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stop_ratio FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pass_lang,
        |CAST(sum(CASE WHEN lang = 'en' AND n_tokens BETWEEN 30 AND 120 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
        |CAST(sum(CASE WHEN lang = 'en' AND n_tokens BETWEEN 30 AND 120 AND stop_ratio > 0.05
        |  THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        |FROM f GROUP BY 1""".stripMargin,
    "q53_token_percentiles" ->
      """WITH f AS (SELECT source, len(string_split(text,' ')) AS n_tokens FROM documents)
        |SELECT source, quantile_cont(n_tokens, 0.5) AS p50,
        |quantile_cont(n_tokens, 0.9) AS p90, quantile_cont(n_tokens, 0.99) AS p99,
        |CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1""".stripMargin,
    "q54_stratified_sample" ->
      """SELECT source, doc_id, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source ORDER BY (doc_id * 2654435761) % 1000003, doc_id) AS rn
        |  FROM documents) t WHERE rn <= 20""".stripMargin,
    "q27_simhash" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(499 AS BIGINT) AS n_distinct_simhash FROM documents""".stripMargin,
    "q28_fingerprint" ->
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(generate_series(1, strlen(text)),
        |      i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT))),
        |  (a, b) -> (a * 31 + b) % 1000000007) AS fp
        |FROM documents""".stripMargin,
    "q17_dedup_exact" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
        |FROM documents GROUP BY 1""".stripMargin,
    "q18_jaccard" ->
      """WITH w AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
        |  FROM documents WHERE doc_id < 15),
        |s AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
        |round(inter*1.0/(sa.n+sb.n-inter),4) AS jac
        |FROM i JOIN s sa ON sa.doc_id = da JOIN s sb ON sb.doc_id = db""".stripMargin,
    "q49_char_ngram_jaccard" ->
      """WITH g AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(generate_series(1, greatest(strlen(text)-2, 1)),
        |    i -> substr(text, CAST(i AS INTEGER), 3))) AS g
        |  FROM documents WHERE doc_id < 8),
        |s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT CAST(da AS BIGINT) AS doc_a, CAST(db AS BIGINT) AS doc_b,
        |round(inter*1.0/(sa.n+sb.n-inter),4) AS jac
        |FROM i JOIN s sa ON sa.doc_id = da JOIN s sb ON sb.doc_id = db""".stripMargin,
    "q19_textstats" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct_tokens,
        |round(CAST(length(replace(text,' ','')) AS DOUBLE)/len(string_split(text,' ')),4) AS avg_token_len,
        |round(CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS DOUBLE)
        |  /len(string_split(text,' ')),4) AS stop_ratio
        |FROM documents""".stripMargin,
    // q234: q20's prediction CASE wrapped in the (true, pred) aggregate
    "q234_lang_confusion" ->
      """WITH f AS (SELECT doc_id, lang,
        |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS en,
        |  len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und'))) AS de,
        |  len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et'))) AS fr,
        |  len(list_filter(string_split(text,' '), x -> x IN ('el','los','las','y'))) AS es
        |  FROM documents),
        |p AS (SELECT lang,
        |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es' ELSE 'unk' END AS pred FROM f)
        |SELECT lang AS true_lang, pred AS pred_lang,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1, 2""".stripMargin,
    "q20_langid" ->
      """WITH f AS (SELECT doc_id, lang,
        |  len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and'))) AS en,
        |  len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und'))) AS de,
        |  len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et'))) AS fr,
        |  len(list_filter(string_split(text,' '), x -> x IN ('el','los','las','y'))) AS es
        |  FROM documents)
        |SELECT doc_id, lang,
        |CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |     WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |     WHEN fr >= es AND fr > 0 THEN 'fr'
        |     WHEN es > 0 THEN 'es' ELSE 'unk' END AS pred,
        |CAST(CASE WHEN (CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |     WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |     WHEN fr >= es AND fr > 0 THEN 'fr'
        |     WHEN es > 0 THEN 'es' ELSE 'unk' END) = lang THEN 1 ELSE 0 END AS BIGINT) AS is_match
        |FROM f""".stripMargin,
  )
}
