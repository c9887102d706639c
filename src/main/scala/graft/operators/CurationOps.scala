package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.syntax._

/** Second curation batch: interval (attribution-window) join, bigram
  * collocation mining, normalized-content fingerprint dedup, an
  * integer-exact unigram quality score, fixed-point BM25 retrieval,
  * deterministic weighted mixture sampling, and content-defined
  * chunking. Everything is codegen'd built-ins over key-partitioned
  * shuffles — no UDFs, no driver loops — and every cross-engine-gated
  * number is computed in exact integer arithmetic (the `div`-fixed-point
  * discipline of TextOps), so the DuckDB oracle matches bit-for-bit.
  */
object CurationOps {

  private def toks(c: Column): Column = split(c, " ")

  // ---------------------------------------------------------------- q81

  /** Bucketed interval join: for each `left` row, count `right` rows
    * with the same key whose time lies in the half-open window
    * (lt - windowUs, lt]. Spark has no native range join; the naive form
    * is a BroadcastNestedLoopJoin (quadratic per key). Instead both
    * sides are bucketed by `time div windowUs`: a right row can only
    * match left rows in its own or the next bucket, so expanding the
    * right side to those TWO buckets turns the range join into an
    * EQUI-join on (key, bucket) + a residual range filter. Each matching
    * pair appears under exactly one bucket (the left row's own), so no
    * dedup pass is needed. At 100 TB this shuffles each side once on
    * (key, bucket) — skew-bounded by AQE — instead of replicating one
    * side per executor and scanning it per row.
    */
  def intervalCount(
      left: DataFrame, leftKey: String, leftTimeUs: String,
      right: DataFrame, rightKey: String, rightTimeUs: String,
      windowUs: Long): DataFrame = {
    val l = left.withColumn("__b", expr(s"$leftTimeUs div ${windowUs}L"))
    val r = right
      .withColumn("__rb", expr(s"$rightTimeUs div ${windowUs}L"))
      .withColumn("__b", explode(array($"__rb", $"__rb" + 1)))
      .select(col(rightKey).as("__rk"), col(rightTimeUs).as("__rt"), $"__b")
    l.join(r,
        l(leftKey) === $"__rk" && l("__b") === r("__b") &&
          $"__rt" <= l(leftTimeUs) && $"__rt" > l(leftTimeUs) - windowUs,
        "left")
      .groupBy(left.columns.map(l(_)).toIndexedSeq: _*)
      .agg(count($"__rt").as("n_matches"))
  }

  /** Attribution-window join over the event stream: clicks credited to
    * each purchase of the same user within the preceding 60 minutes —
    * the ad-attribution / feature-window shape. Exact-µs comparisons
    * (`unix_micros` ≡ DuckDB `epoch_us` after Tables.loadEvents'
    * integer-div nanos→µs rebuild). */
  def q81IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val W = 3600000000L // 60 min in µs
    val ev = load(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", unix_micros($"ts").as("pus"), $"user_id")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("cuser"), unix_micros($"ts").as("cus"))
    intervalCount(purchases, "user_id", "pus", clicks, "cuser", "cus", W)
      .select($"event_id", $"n_matches".as("n_clicks"))
  }

  // ---------------------------------------------------------------- q82

  /** Adjacent-bigram collocation mining by lift. Bigram extraction is a
    * bound-array HOF (one `split` per row, indexed inside the lambda —
    * never re-split per element); the three marginals are plain
    * aggregates over the exploded bigram table, joined back on the
    * bigram's own keys, so the whole thing is one explode + three
    * hash-aggregates + two key joins — map-side-combinable and
    * skew-free (token marginals broadcast at any realistic vocab).
    *
    * lift_ppm = (cnt_ab · N · 10⁶) div (cnt_a· · cnt_·b), exact in
    * Long while cnt_ab · N · 10⁶ < 2⁶³ (holds to ~10⁹ bigrams with the
    * Zipf head capped at ~10⁴ ppm; beyond that, scale after the first
    * division — the q59 rule). */
  def q82BigramLift(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val bg = load(s, dir, "documents")
      .withColumn("ts", toks($"text"))
      .filter(size($"ts") >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS a, ts[i] AS b))")).as("g"))
      .select($"g.a".as("a"), $"g.b".as("b"))
    val pair = bg.groupBy($"a", $"b").agg(count(lit(1)).as("cnt_ab"))
    val first = pair.groupBy($"a").agg(sum($"cnt_ab").as("cnt_a"))
    val second = pair.groupBy($"b").agg(sum($"cnt_ab").as("cnt_b"))
    val n = pair.agg(sum($"cnt_ab").as("n")).select($"n")
    val scored = pair.join(first, "a").join(second, "b")
      .crossJoin(broadcast(n))
      .filter($"cnt_ab" >= 10)
      .select($"a", $"b", $"cnt_ab",
        expr("(cnt_ab * n * 1000000) div (cnt_a * cnt_b)").as("lift_ppm"))
    // TakeOrderedAndProject (per-partition O(k) heaps), NOT a global
    // row_number window — the scored set is vocab²-sized at scale and a
    // partitionless WindowExec would single-thread it; the rank is
    // re-derived over the k survivors only
    scored.orderBy($"lift_ppm".desc, $"a", $"b").limit(topK)
      .withColumn("rk", row_number().over(
        Window.orderBy($"lift_ppm".desc, $"a", $"b")).cast("long"))
      .select($"a", $"b", $"cnt_ab", $"lift_ppm", $"rk")
  }

  // ---------------------------------------------------------------- q83

  /** Normalized-content dedup: the bag-of-words fingerprint
    * (md5 of the sorted distinct token set) collapses token-order and
    * repetition edits that exact-hash dedup misses. Pure per-row
    * compute + one per-source aggregate — the same plan shape as exact
    * dedup (q17), one normalization layer up. sf0.01: 500 docs → 446
    * BOW fingerprints vs 500 exact hashes. */
  def q83BowFingerprint(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select($"source",
        md5($"text").as("efp"),
        md5(concat_ws(" ", array_sort(array_distinct(toks($"text"))))).as("bfp"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"efp").as("n_exact"),
        countDistinct($"bfp").as("n_bow"))

  // ---------------------------------------------------------------- q84

  /** Integer-exact unigram quality score: each token contributes
    * floor(log₂ corpus_count) — computed EXACTLY in the integer domain
    * as length(bin(c)) - 1, no floating log on either engine — and the
    * doc score is the ppm-scaled mean. High scores = head-token prose,
    * low scores = rare-token noise; it is the rarity-profile quality
    * gate of a curation funnel, and its plan is the token inverted-index
    * join: explode → count → join back on the token key (vocab-sized
    * build side → broadcast at scale). */
  def q84Log2Quality(s: SparkSession, dir: String): DataFrame = {
    val tok = load(s, dir, "documents")
      .select($"doc_id", $"source", explode(toks($"text")).as("w"))
    val cnt = tok.groupBy($"w")
      .agg(count(lit(1)).as("c"))
      .select($"w", (length(bin($"c")) - 1).cast("long").as("l2"))
    tok.join(broadcast(cnt), "w")
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_tok"), sum($"l2").as("sum_l2"))
      .select($"doc_id", $"source", $"n_tok",
        expr("(sum_l2 * 1000000) div n_tok").as("score_ppm"))
  }

  /** Bigram-LM surprise score — the perplexity-proxy quality filter
    * (a KenLM-style LM score without a model artifact): train add-one-
    * smoothed bigram statistics ON the corpus itself, then score each
    * document by its mean per-bigram surprise in whole bits,
    * `⌊log₂(c(w₁·)+V)⌋ − ⌊log₂(c(w₁w₂)+1)⌋` — the q84 integer-log₂
    * discipline, so the cross-engine gate is exact (float log₂ ulps
    * between libms would flip floors). High score = improbable text
    * under the corpus LM = the boilerplate/garbled tail a perplexity
    * filter drops; top-20 most-surprising reported. Plan: one bigram
    * explode feeding both count tables and the score join — two
    * key-partitioned shuffles ((w₁,w₂) then w₁) + one doc groupBy +
    * TakeOrderedAndProject; never doc-pairs, vocab tables stay on the
    * shuffle key. Documents under 2 tokens have no bigrams and drop
    * out (no LM evidence either way). */
  def q132BigramSurprise(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val bg = docs
      .filter(size(toks($"text")) >= 2)
      .select($"doc_id",
        explode(element_at(transform(array(toks($"text")), t =>
          transform(sequence(lit(1), size(t) - 1),
            i => struct(
              element_at(t, i).as("w1"),
              element_at(t, i + 1).as("w2")))), 1)).as("b"))
      .select($"doc_id", $"b.w1".as("w1"), $"b.w2".as("w2"))
      .repartition($"w1", $"w2") // one exchange reused by cb AND the score join
    // count(doc_id), not count(*): the aggregates must keep doc_id in
    // their pruned schema or Catalyst specializes each consumer's
    // subtree and ReuseExchange can't fire — the corpus would be
    // exploded into bigrams once PER consumer (plan-gated in
    // CurationOpsSpec; doc_id is non-null, so the counts are identical)
    val cb = bg.groupBy($"w1", $"w2").agg(count($"doc_id").as("cb"))
    val cu = bg.groupBy($"w1").agg(count($"doc_id").as("cu"))
    val v = docs.select(explode(toks($"text")).as("w"))
      .agg(countDistinct($"w").as("v"))
    val bits =
      (length(bin($"cu" + $"v")) - 1) - (length(bin($"cb" + 1)) - 1)
    bg.join(cb, Seq("w1", "w2"))
      .join(cu, Seq("w1"))
      .crossJoin(broadcast(v))
      .select($"doc_id", bits.cast("long").as("bits"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"bits").as("sum_bits"))
      .select($"doc_id", $"n_bigrams",
        expr("(sum_bits * 1000000) div n_bigrams").as("score_ppm"))
      .orderBy($"score_ppm".desc, $"doc_id")
      .limit(20)
  }

  // ---------------------------------------------------------------- q85

  /** Fixed-point BM25 top-k retrieval (k1 = 1.2, b = 0.75). The whole
    * score is one exact integer expression so both engines rank
    * identically: idf is the rational surrogate (N-df)·10³ div df
    * (monotone in df, like the log form it replaces), and the
    * tf-saturation term is cleared of fractions by multiplying through
    * by 10·ΣDL:
    *
    *   score_t = 22·idf·tf·ΣDL·10³ div (10·tf·ΣDL + 3·ΣDL + 9·dl·N)
    *
    * Exact while 22·idf·tf·ΣDL·10³ < 2⁶³ — fine through ~sf1 corpora; a
    * 100 TB deployment swaps the score expression for double+`ln` (rank
    * stability at that scale is statistical, not bit-exact — the
    * integer form exists to keep the CROSS-ENGINE gate exact). Plan:
    * one explode → (doc,term) counts for the 3 probe terms → df/dl
    * joins (broadcast: |terms| rows) → TakeOrderedAndProject.
    */
  def q85Bm25(s: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val terms = Seq("spark", "vector", "window")
    val docs = load(s, dir, "documents")
    val tok = docs.select($"doc_id", explode(toks($"text")).as("w"))
    val dl = tok.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(
      count(lit(1)).as("n"), sum($"dl").as("sumdl"))
    val tf = tok.filter($"w".isin(terms: _*))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .select($"doc_id",
        expr("""(22 * (((n - df) * 1000) div df) * tf * sumdl * 1000)
                div (10 * tf * sumdl + 3 * sumdl + 9 * dl * n)""").as("sc"))
      .groupBy($"doc_id").agg(sum($"sc").as("score"))
    // same TakeOrderedAndProject discipline as q82: never a global
    // row_number window over the full scored corpus
    scored.orderBy($"score".desc, $"doc_id").limit(topK)
      .withColumn("rk", row_number().over(
        Window.orderBy($"score".desc, $"doc_id")).cast("long"))
      .select($"doc_id", $"score", $"rk")
  }

  // ---------------------------------------------------------------- q86

  /** Deterministic weighted mixture sampling — the source-reweighting
    * step that assembles a training mix. Each doc's inclusion is a pure
    * function of its identity: keep iff the first 4 hex chars of
    * md5(doc_id ‖ ':' ‖ source) fall below the source's threshold
    * ('8000' ≈ p=.5 for even-numbered sources, '4000' ≈ p=.25 for odd).
    * Hex-prefix thresholding needs no hex→int conversion (lexicographic
    * compare IS the numeric compare on fixed-width hex), is exactly
    * reproducible across engines/runs/scales, and — unlike
    * `df.sample` — is stable under repartitioning and incremental
    * appends: a doc's fate never depends on which partition it landed
    * in. Pure scan + one per-source aggregate; no shuffle before the
    * final 20-group agg. */
  def q86MixtureSample(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select($"source",
        size(toks($"text")).cast("long").as("n_tok"),
        (substring(md5(concat($"doc_id".cast("string"), lit(":"), $"source")), 1, 4) <
          when(substring($"source", 4, 10).cast("int") % 2 === 0, "8000")
            .otherwise("4000")).as("keep"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_in"),
        count(when($"keep", lit(1))).as("n_kept"),
        coalesce(sum(when($"keep", $"n_tok")), lit(0L)).as("tokens_kept"))

  // ---------------------------------------------------------------- q87

  /** Content-defined chunking: a token opens a new chunk iff
    * md5(token) starts with nibble '0' — boundaries depend on CONTENT
    * only, so an insertion resorts one chunk instead of re-shifting
    * every fixed-width window (the dedup-stable chunking used by CDC
    * stores; complements q66's fixed-width chunker). chunk_id is a
    * key-local running sum over the doc's token positions; chunk
    * identity is md5 of the space-joined chunk. One explode + one
    * doc-partitioned window + two hash-aggregates. */
  def q87CdcChunk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tok = load(s, dir, "documents")
      .select($"doc_id", $"source", posexplode(toks($"text")).as(Seq("pos", "w")))
      .withColumn("chunk", sum(when(substring(md5($"w"), 1, 1) === "0", 1L)
        .otherwise(0L)).over(w))
    val chunks = tok.groupBy($"doc_id", $"source", $"chunk")
      .agg(
        count(lit(1)).as("len"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(struct($"pos", $"w"))), x => x("w")))).as("cfp"))
    chunks.groupBy($"source")
      .agg(
        count(lit(1)).as("n_chunks"),
        countDistinct($"cfp").as("n_distinct_chunks"),
        max($"len").as("max_chunk_tokens"),
        sum($"len").as("n_tokens"))
      .select($"source", $"n_chunks", $"n_distinct_chunks",
        $"max_chunk_tokens", $"n_tokens",
        expr("(n_tokens * 1000000) div n_chunks").as("mean_chunk_ppm"))
  }

  // ---------------------------------------------------------------- q88

  /** Count-min-sketch-prefiltered heavy hitters — the q67 bloom
    * discipline applied to frequency: a CMS over one corpus pass gives
    * every token an OVERestimate, so `estimate ≥ T` passes every
    * true-heavy token (no false negatives) and the exact count is
    * recomputed only for the surviving candidates. At 100 TB the
    * sketch (4×65536 counters ≈ 2 MB) replaces a full-vocabulary
    * shuffle with a scan-side probe + an aggregate over the (tiny)
    * candidate slice; result is IDENTICAL to the exact query — the
    * sketch is a prefilter, never the answer. T = total_tokens div 64,
    * kept IN-PLAN via the column-threshold probe.
    *
    * Since round 9 this runs through [[SketchOps.buildCms]] /
    * [[SketchOps.cmsHeavyProbeCol]] — the probe is d chained broadcast
    * lookups in whole-stage codegen, retiring the JVM-UDF probe of the
    * opaque `stat.countMinSketch` object this query originally carried
    * as a documented exception (and gaining persistence/merge for
    * free: the same sketch now stores and sum-merges like q166's). */
  def q88CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val tok = load(s, dir, "documents")
      .select(explode(toks($"text")).as("w"))
    val cms = SketchOps.buildCms(tok, $"w")
    val totals = tok.agg(count(lit(1)).as("total"))
    SketchOps.cmsHeavyProbeCol(
        tok.crossJoin(broadcast(totals)), $"w", cms, expr("total div 64"))
      .groupBy($"w")
      .agg(count(lit(1)).as("cnt"), first($"total").as("total"))
      .filter($"cnt" >= expr("total div 64"))
      .select($"w", $"cnt")
  }

  // ---------------------------------------------------------------- q89

  /** Deterministic per-group uniform sample: k docs per source, ordered
    * by md5(doc_id ‖ ':' ‖ source) — hash order IS uniform order, and
    * unlike `df.sample` the pick is reproducible across runs, engines,
    * partitionings, and appends (q86's discipline, per-group-k form).
    * The rank column is dropped, so the TopKPerKey rewrite replaces the
    * sort-based window with the engine's two-stage bounded-heap
    * operator: O(k·groups) task memory, survivors-only shuffle. */
  def q89GroupSample(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val w = Window.partitionBy($"source")
      .orderBy($"h", $"doc_id")
    load(s, dir, "documents")
      .select($"source", $"doc_id",
        md5(concat($"doc_id".cast("string"), lit(":"), $"source")).as("h"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"source", $"doc_id", $"h")
  }

  /** Deterministic contrastive NEGATIVE sampling: for each document, k
    * pseudo-random partner docs by an LCG hop over the id space
    * ((doc_id·48271 + i·101) mod N — Lehmer multiplier, no RNG), so the
    * pairing is reproducible across runs, engines, partitionings, and
    * appends (the q86 determinism discipline). Partner EXISTENCE is
    * validated by an id equi-join (sparse id spaces just thin the
    * sample); self-pairs are skipped. One broadcast of the 1-row count,
    * one id-key join — never a shuffle of document bodies. Long bound:
    * doc_id·48271 < 2⁶³ ⇔ ids < ~1.9·10¹⁴. */
  def negativeSamples(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.groupBy().agg(count(lit(1)).as("n_docs"))
    val ids = docs.select($"doc_id".as("neg_id"))
    docs.select($"doc_id").crossJoin(broadcast(n))
      .select($"doc_id", explode(sequence(lit(1), lit(k))).as("i"), $"n_docs")
      .select($"doc_id", $"i".cast("long").as("neg_ordinal"),
        (($"doc_id" * 48271 + $"i" * 101) % $"n_docs").as("neg_id"))
      .filter($"neg_id" =!= $"doc_id")
      .join(ids, "neg_id")
      .select($"doc_id", $"neg_ordinal", $"neg_id")
  }

  def q118NegativeSamples(s: SparkSession, dir: String): DataFrame =
    negativeSamples(load(s, dir, "documents"), k = 2)

  // ------------------------------------------------------------ oracles

  /** Deterministic per-epoch ordering key — the data-ordering step of
    * multi-epoch training: epoch e permutes the corpus by the q54/q89
    * LCG, so every run, engine and partitioning sees the SAME epoch
    * order, and consecutive epochs decorrelate. TWO LCG rounds over
    * the id's low and high digits base 10⁶+3: round 1 permutes
    * `id mod M`, round 2 mixes `(id div M) mod M` with round 1's
    * output, and the key is `r1·M + r2` — ~10¹² distinct values, so
    * ids only tie when congruent mod M² (the single-round key had
    * ~10⁶ values and degraded into correlated doc_id-order runs past
    * ~1 M documents — exactly the scale the ordering targets). Every
    * intermediate stays under ~2.7·10¹⁵: the reductions happen BEFORE
    * each multiply, so snowflake-scale 64-bit ids neither overflow
    * (Spark would wrap silently, DuckDB would throw) nor diverge
    * between engines; the high digit is extracted as
    * `((id − id mod M) mod M²) / M` — an exact division of a
    * sub-2⁵³ multiple of M, because a direct `div` on the raw id is
    * not expressible overflow-safely in portable column algebra.
    * Non-negative ids assumed (both engines truncate `%` toward zero
    * identically, but document intent). At scale the ordering is a
    * `repartitionByRange` on this key — one shuffle per epoch, no
    * driver-side permutation materialized. */
  /** Character-ENTROPY quality proxy — the garbled/binary-ish text
    * detector a char-level signal catches where token stats cannot
    * (single-"word" blobs, repeated-character padding): per document,
    * `surprise_bits = N·⌊log₂N⌋ − Σ_c k_c·⌊log₂k_c⌋` over the char
    * histogram — zero for a single repeated character, maximal for a
    * uniform alphabet — in the q84 integer-log₂ discipline
    * (`length(bin(x)) − 1`, no floating log on either engine). The
    * (doc_id, char) aggregate is map-side combinable with key
    * cardinality ≤ doc length (alphabet-bounded in practice), so the
    * explode never survives a shuffle wider than the histogram. */
  def charEntropyProfile(docs: DataFrame): DataFrame = {
    val per = docs
      .select($"doc_id", explode(split($"text", "")).as("c"))
      .filter($"c" =!= "") // Spark's split(-1 limit) emits a trailing ""
      .groupBy($"doc_id", $"c").agg(count(lit(1)).as("k"))
      .withColumn("l2k", (length(bin($"k")) - 1).cast("long"))
    per.groupBy($"doc_id")
      .agg(
        sum($"k").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum($"k" * $"l2k").as("sum_kl2k"))
      .select($"doc_id", $"n_chars", $"n_distinct",
        ($"n_chars" * (length(bin($"n_chars")) - 1).cast("long") - $"sum_kl2k")
          .as("surprise_bits"))
      .withColumn("bits_ppm",
        expr("(surprise_bits * 1000000) div n_chars"))
  }

  def q145CharEntropy(s: SparkSession, dir: String): DataFrame =
    charEntropyProfile(load(s, dir, "documents"))

  /** WITHIN-document repetition quality — the Gopher/FineWeb
    * duplicate-n-gram family (Rae et al. 2021 §A1.1: "fraction of
    * characters in duplicate n-grams"; here the word-2-gram variant
    * the corpus shape supports): per document, dup_permille =
    * ⌊(g − distinct(g))·1000 / g⌋ over its word-2-gram multiset — 0
    * for fully novel text, → 1000 for a loop — then per source: docs,
    * docs flagged at the Gopher-style ≥ threshold, and the summed
    * per-mille mass. Catches the looping/boilerplate failure mode
    * that CROSS-doc dedup (q23/q64/q87) structurally cannot: the
    * repetition is inside one row.
    *
    * SCALE: the gram array never leaves its row — built by a
    * higher-order `transform` over the split (no explode, no shuffle
    * of gram strings), consumed in-row by size/array_distinct, then
    * ONE map-side-combinable aggregate on source. Per-row cost is
    * O(words); corpus cost is one scan. Integer per-mille floor-div
    * keeps the hash float-free on both engines. */
  def dupNgramProfile(docs: DataFrame, flagPermille: Long): DataFrame = {
    val per = docs
      .select($"source", split($"text", " ").as("w"))
      .withColumn("n2", (size($"w") - 1).cast("long"))
      .filter($"n2" >= 1L)
      .withColumn("grams", expr(
        "transform(sequence(1, int(n2)), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
      .select($"source", $"n2",
        expr("((n2 - size(array_distinct(grams))) * 1000) div n2")
          .as("dup_permille"))
    per.groupBy($"source").agg(
      count(lit(1)).as("n_docs"),
      sum(when($"dup_permille" >= flagPermille, 1L).otherwise(0L))
        .as("n_flagged"),
      sum($"dup_permille").as("sum_dup_permille"))
  }

  def q256DupNgram(s: SparkSession, dir: String): DataFrame =
    dupNgramProfile(load(s, dir, "documents"), flagPermille = 100L)

  /** Greedy per-source TOKEN-BUDGET draw — the mixture-realization step
    * of a pretraining data recipe: each source contributes documents in
    * the deterministic [[epochOrder]] permutation until its token
    * budget fills. The first document whose PRECEDING cumulative total
    * is still under budget is drawn (so the budget-crossing document is
    * included — a source always reaches its budget when it has the
    * tokens: the greedy-fill convention), later documents are not.
    *
    * One window over the source-partitioned shuffle — no driver loop,
    * no second pass; at 100 TB the window key is the mixture component
    * (sources are few relative to docs — skew is per-source doc count,
    * the same prefix scan any budget-fill must pay), and the budget
    * comparison is against the EXCLUSIVE running sum so no doc's
    * admission depends on its own size. The gate pins the drawn SET
    * exactly (xor of doc ids), not just its cardinality. */
  def q139TokenBudgetDraw(s: SparkSession, dir: String): DataFrame = {
    val budget = 800L // < every source's total at the gate's fixture
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"ord", $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    load(s, dir, "documents")
      .select($"doc_id", $"source",
        size(toks($"text")).cast("long").as("n_tokens"))
      .withColumn("ord", epochOrder($"doc_id", lit(0L)))
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .filter($"cum_before" < budget)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens_drawn"),
        expr("bit_xor(doc_id)").as("drawn_xor"))
  }

  // --------------------------------------------------------------- q223

  /** q223 — importance-ranked domain selection (the DSIR recipe, Xie
    * et al., NeurIPS 2023, reduced to its integer core): score every
    * NON-target document by how target-like its unigram distribution
    * is — Σ_t [⌊log₂(ct(t)+1)⌋ − ⌊log₂(ca(t)+1)⌋] + len·K with
    * K = ⌊log₂ Na⌋ − ⌊log₂ Nt⌋ — and take the top `k`. ct/ca are
    * token occurrence counts in the target domain (min source, the
    * deterministic pick) vs the whole corpus, so the score is the
    * integer-log likelihood ratio of the two unigram LMs (q132's
    * surprise machinery pointed at DOMAIN selection instead of
    * anomaly): positive means the target LM likes the document more
    * than the corpus LM. The add-1 keeps every log argument ≥ 1, and
    * the q84 rule (⌊log₂ x⌋ = bitlen−1) keeps both engines exact.
    *
    * SCALE: two vocabulary-sized count aggregates (map-combinable),
    * the per-token score table joined back to the token stream on the
    * token key (broadcast at vocab scale, hash join beyond), one
    * per-doc aggregate, TakeOrdered for the top-k — the corpus is
    * scanned twice and sorted never. Na/Nt are one scalar agg. */
  def dsirSelect(docs: DataFrame, k: Int): DataFrame = {
    val tgt = docs.agg(min($"source")).head.getString(0) // 1-row scalar
    val toksT = docs
      .select($"doc_id", $"source", explode(toks($"text")).as("t"))
      .filter(length($"t") >= 1)
    def il2(c: Column): Column = (length(bin(c)) - 1).cast("long")
    val totals = toksT.agg(count(lit(1)).as("na"),
      sum(when($"source" === tgt, 1L).otherwise(0L)).as("nt")).head
    val kOff = (63 - java.lang.Long.numberOfLeadingZeros(totals.getLong(0))) -
      (63 - java.lang.Long.numberOfLeadingZeros(totals.getLong(1)))
    val ct = toksT.filter($"source" === tgt)
      .groupBy($"t").agg(count(lit(1)).as("ct"))
    val ca = toksT.groupBy($"t").agg(count(lit(1)).as("ca"))
    val sc = ca.join(ct, Seq("t"), "left").na.fill(0L, Seq("ct"))
      .select($"t", (il2($"ct" + 1) - il2($"ca" + 1)).as("sc"))
    toksT.filter($"source" =!= tgt)
      .join(sc, "t") // inner keeps all: every corpus token has ca >= 1
      .groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_tokens"), sum($"sc").as("sum_s"))
      .select($"doc_id", $"source", $"n_tokens",
        ($"sum_s" + $"n_tokens" * lit(kOff.toLong)).as("score"))
      .orderBy($"score".desc, $"doc_id").limit(k)
  }

  def q223DsirSelect(s: SparkSession, dir: String, k: Int = 100): DataFrame =
    dsirSelect(load(s, dir, "documents"), k)

  // --------------------------------------------------------------- q228

  /** q228 — EXACT stratified split: per stratum (source), exactly
    * ⌊n·p/100⌋ documents go to validation, chosen by the deterministic
    * [[epochOrder]] rank — the guarantee q131's hash-threshold split
    * deliberately trades away (a hash threshold gives each stratum
    * p ± binomial noise; model-eval tables want the floor exactly).
    * Assignment is rank ≤ ⌊n·p/100⌋ in the integer form
    * 100·rn ≤ n·p; the gated row pins the val MEMBERSHIP (xor fold),
    * not just counts.
    *
    * SCALE: one shuffle on the stratum key, partition-local sort for
    * the rank — the price of exact counts (any exact-quota split must
    * order each stratum); when approximate is acceptable, use q131's
    * map-only hash split instead. Both windows share one sort. */
  def stratifiedSplit(docs: DataFrame, valPct: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"ord", $"doc_id")
    val n = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    docs.select($"doc_id", $"source")
      .withColumn("ord", epochOrder($"doc_id", lit(0L)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n_total", count(lit(1)).over(n))
      .withColumn("is_val", $"rn" * 100 <= $"n_total" * valPct)
      .groupBy($"source")
      .agg(max($"n_total").as("n_total"),
        sum(when($"is_val", 1L).otherwise(0L)).as("n_val"),
        sum(when(!$"is_val", 1L).otherwise(0L)).as("n_train"),
        expr("bit_xor(case when is_val then doc_id else 0 end)")
          .as("val_xor"))
  }

  def q228StratifiedSplit(s: SparkSession, dir: String): DataFrame =
    stratifiedSplit(load(s, dir, "documents"), valPct = 20)

  // --------------------------------------------------------------- q226

  /** q226 — exact largest-remainder apportionment (Hamilton's method):
    * split an integer budget across sources proportionally to integer
    * weights so the parts sum to the budget EXACTLY — the allocation
    * primitive mixture recipes need before q139's greedy fill can
    * execute (floats hand every engine a different ±1; this never
    * does). base_i = ⌊B·w_i/Σw⌋, then the Σbase..B shortfall goes one
    * unit each to the largest remainders (remainder desc, source asc —
    * the deterministic tie-break).
    *
    * SCALE: runs entirely on the WEIGHTS table (one row per mixture
    * component — dozens, not documents). The windows partition on a
    * constant, which is the honest way to say "this table is one
    * component-sized group": bounded by construction, never
    * corpus-sized. Long bound: w·B < 2^63 — document token counts ×
    * token budgets stay under it until ~10^9 × 10^9. */
  def apportion(weights: DataFrame, budget: Long): DataFrame = {
    val one = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val ranked = weights.select($"source", $"w",
        sum($"w").over(one).as("tot"))
      .select($"source", $"w",
        expr(s"(w * ${budget}L) div tot").as("base"),
        expr(s"(w * ${budget}L) % tot").as("rem"))
      .withColumn("rk", row_number().over(
        one.orderBy($"rem".desc, $"source")).cast("long"))
      .withColumn("shortfall", lit(budget) - sum($"base").over(one))
    ranked.select($"source", $"w",
      ($"base" + when($"rk" <= $"shortfall", 1L).otherwise(0L)).as("alloc"))
  }

  def q226Apportion(s: SparkSession, dir: String): DataFrame =
    apportion(
      load(s, dir, "documents").groupBy($"source")
        .agg(count(lit(1)).as("w")),
      budget = 9973L) // prime: guarantees live remainders

  // --------------------------------------------------------------- q232

  /** q232 — token-balanced shard boundaries: cut the [[epochOrder]]
    * document stream into shards of ~`budget` tokens each (the
    * training-shard planning step before a WebDataset/packed export) —
    * shard k = the docs whose EXCLUSIVE running token total lies in
    * [k·B, (k+1)·B). The running total is computed WITHOUT the global
    * single-task window via the q173 dense-ordinal discipline:
    * fixed-arithmetic range buckets on the hash-uniform draw key
    * (no sampling pass), per-bucket token sums (ONE driver collect,
    * ≤ buckets rows), exclusive prefix offsets broadcast back, and a
    * PARTITIONED window adds the in-bucket prefix. Per-shard output:
    * doc/token counts — conservation (Σ = corpus) is the gate's law. */
  def shardCut(docs: DataFrame, budget: Long,
      buckets: Int = 1024): DataFrame = {
    val M2 = 1000003L * 1000003L
    val width = M2 / buckets + 1
    val keyed = docs
      .select($"doc_id", size(toks($"text")).cast("long").as("ntok"))
      .withColumn("ord", epochOrder($"doc_id", lit(0L)))
      .withColumn("__b", expr(s"ord div ${width}L"))
    val sums = keyed.groupBy($"__b").agg(sum($"ntok").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // sums ≤ buckets rows — the documented driver bound
    val offs = sums.zip(sums.map(_._2).scanLeft(0L)(_ + _))
      .map { case ((b, _), off) => (b, off) }.toSeq
    val offDf = docs.sparkSession.createDataFrame(offs).toDF("__b", "__off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"__b").orderBy($"ord", $"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    keyed.join(broadcast(offDf), Seq("__b"))
      .withColumn("cum_before",
        $"__off" + coalesce(sum($"ntok").over(w), lit(0L)))
      .withColumn("shard_id", expr(s"cum_before div ${budget}L"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
  }

  def q232ShardCut(s: SparkSession, dir: String): DataFrame =
    shardCut(load(s, dir, "documents"), budget = 2000L)

  /** Per-source document cap — web curation's "domain cap": keep at
    * most `cap` documents per source, chosen by the deterministic
    * [[epochOrder]] permutation (an unbiased hash-order sample, not
    * head-of-file bias), so the kept set is REPRODUCIBLE across runs
    * and engines and STABLE across releases: a document's draw key
    * never changes, so corpus growth can only displace survivors via
    * strictly smaller newcomers, never reshuffle them.
    *
    * SCALE: `row_number ≤ cap per source ordered by (ord, doc_id)` with
    * the rank dropped is rewritten by [[graft.plans.TopKRewriteRule]]
    * into the bounded-heap [[graft.plans.TopKPerKeyExec]] — each map
    * partition holds ≤ cap rows per source and the shuffle carries only
    * survivors, where the plain window form would full-sort every
    * source's documents. That partial-stage bound is CORRECT because
    * capping is a selection monoid: cap(A ∪ B) = cap(cap(A) ∪ cap(B))
    * (the law CurationOpsSpec pins), the same property that makes
    * per-release capping composable — re-capping the union of capped
    * shards loses nothing. Totals stay EXACT from a separate map-side-
    * combinable count joined back by broadcast (sources ≪ docs), the
    * q64 refuse-or-account rule: every drop is visible as
    * n_source − n_kept. */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    val kept = docs
      .select($"doc_id", $"source")
      .withColumn("ord", epochOrder($"doc_id", lit(0L)))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"ord", $"doc_id")))
      .filter($"rn" <= cap)
      .select($"source", $"doc_id") // rank dropped → heap rewrite fires
    val totals = docs.groupBy($"source").agg(count(lit(1)).as("n_source"))
    kept.join(broadcast(totals), Seq("source"))
      .select($"source", $"doc_id", $"n_source",
        least(lit(cap.toLong), $"n_source").as("n_kept"))
  }

  def q169SourceCap(s: SparkSession, dir: String, cap: Int = 10): DataFrame =
    sourceCap(load(s, dir, "documents"), cap)

  /** Dense global ordinals (0..n−1 in [[epochOrder]] order) WITHOUT the
    * classic scale-killer: a global `row_number()` is a WindowExec with
    * an EMPTY partition spec — one task sorts the entire corpus. This
    * operator gets the identical numbering distributed: the hash-uniform
    * draw key is range-bucketed by fixed arithmetic (`ord div width` —
    * deterministic, NO RangePartitioner sampling pass), per-bucket
    * counts are one map-side-combinable aggregate whose output is ≤
    * `buckets` rows (the ONE driver collect, bounded by construction),
    * exclusive prefix offsets are broadcast back, and each bucket
    * numbers itself with a PARTITIONED window + its offset. Equal draw
    * keys share a bucket, so (ord, id) tie-breaking inside the bucket
    * reproduces the global order exactly — the law the gate pins.
    *
    * Uniformity note: buckets are equal-width in the KEY domain, which
    * is hash-uniform regardless of the id distribution — balance needs
    * no sampling. Epoch streams (q129), split frames, and export
    * numbering all want exactly this dense stable id. */
  def denseOrdinals(df: DataFrame, idCol: Column,
      buckets: Int = 1024): DataFrame = {
    val M2 = 1000003L * 1000003L // epochOrder range: [0, M²)
    val width = M2 / buckets + 1
    val keyed = df
      .withColumn("ord", epochOrder(idCol, lit(0L)))
      .withColumn("__b", expr(s"ord div ${width}L"))
    val counts = keyed.groupBy($"__b").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // counts ≤ buckets rows — the documented driver bound
    val offs = counts.zip(counts.map(_._2).scanLeft(0L)(_ + _))
      .map { case ((b, _), off) => (b, off) }.toSeq
    val offDf = df.sparkSession.createDataFrame(offs).toDF("__b", "__off")
    keyed.join(broadcast(offDf), Seq("__b"))
      .withColumn("ordinal",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"__b").orderBy($"ord", idCol)).cast("long")
          + $"__off" - 1L)
      .drop("__b", "__off")
  }

  def q173DenseOrdinals(s: SparkSession, dir: String): DataFrame =
    denseOrdinals(load(s, dir, "documents").select($"doc_id"), $"doc_id")
      .select($"doc_id", $"ord", $"ordinal")

  /** Global NTILE(k) without a global window — the quantile-ASSIGNMENT
    * complement of [[denseOrdinals]] (which it builds on): standard SQL
    * ntile splits n rows into k tiles whose sizes differ by at most
    * one, the first n mod k tiles taking the extra row. That rule is
    * pure integer arithmetic on the dense ordinal, so the tile comes
    * from a map-only expression over the distributed numbering — no
    * empty-partition WindowExec anywhere — and matches the engines'
    * native `ntile` exactly (the oracle IS DuckDB's ntile). Corpus-wide
    * decile tags (quality trims, curriculum buckets, stratified holds)
    * at all-partitions parallelism. */
  def globalNtile(df: DataFrame, idCol: Column, k: Int,
      buckets: Int = 1024): DataFrame = {
    require(k > 0, "k must be positive")
    val withOrd = denseOrdinals(df, idCol, buckets)
    val n = df.count() // one footer-backed count; n also bounds ordinal
    val size = n / k
    val rem = n % k
    val cut = rem * (size + 1)
    withOrd.withColumn("tile",
      when($"ordinal" < cut, expr(s"ordinal div ${size + 1}L"))
        .otherwise(lit(rem) +
          expr(s"(ordinal - ${cut}L) div ${math.max(size, 1L)}L"))
        + 1L)
  }

  def q180GlobalNtile(s: SparkSession, dir: String): DataFrame =
    globalNtile(load(s, dir, "documents").select($"doc_id"), $"doc_id", 10)
      .select($"doc_id", $"ordinal", $"tile")

  /** q175 — the END-TO-END release pipeline, composing the round-7..9
    * release operators into one flow with per-source funnel accounting
    * (the q80 discipline applied to the RELEASE side): domain cap
    * (q169's bounded-heap hash-draw, cap 15) → canonical bag-of-words
    * dedup (q83's fingerprint, global min-doc_id survivor) → quality
    * gate (≥ 30 tokens) → token-budget mixture draw (q139's greedy
    * exclusive-prefix fill, budget 300). Every stage is the shipped
    * operator's exact semantics, so the oracle is the composed CTE
    * chain and hash equality proves the STAGES COMPOSE — each stage's
    * input is the previous stage's output, not a re-derivation.
    *
    * SCALE: composition adds nothing beyond the stages' own plans —
    * cap is the bounded heap (rank dropped), dedup shuffles once on the
    * fingerprint, quality is map-only, the draw is one window per
    * source, and the five funnel counts are map-side-combinable
    * aggregates left-joined onto the source spine with 0-sentinels
    * (NULL-free gate rule). sf0.01 funnel per source: 25 → 15 capped →
    * unique ≤ 15 → quality-gated → budget-drawn. */
  def q175ReleasePipeline(s: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val budget = 300L
    val docs = load(s, dir, "documents")
    val capped = docs.select($"doc_id", $"source", $"text")
      .withColumn("ord", epochOrder($"doc_id", lit(0L)))
      .withColumn("rn", row_number().over(
        W.partitionBy($"source").orderBy($"ord", $"doc_id")))
      .filter($"rn" <= 15).drop("rn")
    val surv = capped
      .withColumn("cfp",
        concat_ws(" ", array_sort(array_distinct(split($"text", " ")))))
      .withColumn("mn", min($"doc_id").over(W.partitionBy($"cfp")))
      .filter($"doc_id" === $"mn")
    val qual = surv
      .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
      .filter($"n_tokens" >= 30L)
    val drawn = qual
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(
        W.partitionBy($"source").orderBy($"ord", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter($"cum_before" < budget)
    def stage(df: DataFrame, as: String) =
      df.groupBy($"source").agg(count(lit(1)).as(as))
    docs.groupBy($"source").agg(count(lit(1)).as("n_source"))
      .join(stage(capped, "n_capped"), Seq("source"), "left")
      .join(stage(surv, "n_unique"), Seq("source"), "left")
      .join(stage(qual, "n_quality"), Seq("source"), "left")
      .join(drawn.groupBy($"source").agg(
          count(lit(1)).as("n_drawn"),
          sum($"n_tokens").as("tokens_drawn"),
          expr("bit_xor(doc_id)").as("drawn_xor")),
        Seq("source"), "left")
      .na.fill(0L, Seq("n_capped", "n_unique", "n_quality", "n_drawn",
        "tokens_drawn", "drawn_xor"))
  }

  def epochOrder(idCol: Column, epoch: Column): Column = {
    val M = lit(1000003L)
    val lo = idCol % M
    val hi = (((idCol - lo) % lit(1000003L * 1000003L)) / M).cast("long")
    val r1 = ((lo + epoch * lit(999983L)) % M) * lit(2654435761L) % M
    val r2 = ((hi + r1) % M) * lit(2654435761L) % M
    r1 * M + r2
  }

  /** [[epochOrder]] through the oracle gate: the first 10 documents of
    * epochs 0 and 1 under the deterministic permutation — pinning that
    * both engines produce the identical epoch streams, and that the
    * two epochs differ. */
  def q129EpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val keyed = load(s, dir, "documents")
      .select($"doc_id", explode(array(lit(0L), lit(1L))).as("epoch"))
      .withColumn("ord", epochOrder($"doc_id", $"epoch"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"epoch").orderBy($"ord", $"doc_id")
    keyed.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 10)
      .select($"epoch", $"rank".cast("long").as("rank"), $"doc_id", $"ord")
  }

  // --------------------------------------------------------------- q208

  /** q208 — source-to-source similarity matrix over token-frequency
    * vectors, as division-cleared integers: per source pair, the dot
    * product Σ tf_a(t)·tf_b(t) and both squared norms (cos² =
    * dot²/(ss_a·ss_b) — the q202 no-floats rule), the "which domains
    * duplicate each other's vocabulary" input to mixture design that
    * q139's budget draw consumes downstream. Pairs with DISJOINT
    * vocabularies are deliberately absent (similarity exactly 0): the
    * pair table comes from the inverted-index join on the token — only
    * co-occurring vocabulary ever pairs, so the plan is one corpus
    * shuffle to (source, token) counts, then vocabulary-sized joins
    * with per-token fan-out ≤ |sources|² — never corpus², never a
    * dense sources×vocab matrix. Dot/norm sums accumulate in
    * decimal(38,0) (tf² reaches n² per token) and present BIGINT —
    * exact < 2^63, shard past it (the q202 note). */
  def sourceSimilarity(docs: DataFrame): DataFrame = {
    val tf = docs
      .select($"source", explode(split($"text", " ")).as("t"))
      .groupBy($"source", $"t").agg(count(lit(1)).as("c"))
    val dec = "decimal(38,0)"
    val norms = tf.groupBy($"source")
      .agg(sum($"c".cast(dec) * $"c").as("ss"))
    tf.as("a")
      .join(tf.as("b"),
        col("a.t") === col("b.t") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(col("a.c").cast(dec) * col("b.c")).as("dotd"))
      .join(norms.select($"source".as("src_a"), $"ss".as("ssa")), "src_a")
      .join(norms.select($"source".as("src_b"), $"ss".as("ssb")), "src_b")
      .select($"src_a", $"src_b", $"dotd".cast("long").as("dot"),
        $"ssa".cast("long").as("ss_a"), $"ssb".cast("long").as("ss_b"))
  }

  def q208SourceSimilarity(s: SparkSession, dir: String): DataFrame =
    sourceSimilarity(load(s, dir, "documents"))

  // ---------------------------------------- trainable quality classifier

  /** Distributed full-batch gradient descent for a logistic-style
    * quality classifier — the trainable complement of the heuristic
    * quality scores (q28-family): a CCNet-style "does this document
    * look like the reference corpus" filter, reduced to the engine's
    * integer-clearing discipline so training is EXACTLY replayable in
    * any engine (the q106/q246 rule applied to learning):
    *
    *  - features live on a fixed 1e-4 grid (floor-quantized ratios),
    *    weights on a 1e-6 grid (scaled longs);
    *  - the squashing function is the RATIONAL fast sigmoid
    *    `0.5 + z/(2(1+|z|))` — no exp(), whose libm bits differ
    *    across engines;
    *  - per-row gradient contributions are floor-quantized to LONGS,
    *    so the distributed Σ is exact under any partitioning/order
    *    (a plain double Σ would drift in the last ulp and diverge
    *    from the oracle after a few iterations);
    *  - the weight step `trunc(lr·Σg/n)` is one IEEE multiply +
    *    divide + truncation on exact-long inputs — bit-stable.
    *
    * Each iteration is ONE map-side-combinable aggregate job over the
    * feature frame (collect = 1+xCols longs, bound stated); at 100 TB
    * full-batch GD is k passes over the corpus, so the k-scan
    * guidance is SELF-ENFORCING: when the caller has not cached the
    * (tiny) feature projection, the helper caches it for the duration
    * of training and releases it after — an uncached lineage would
    * otherwise recompute the featurization k+1 times. A caller-managed
    * cache is left untouched. */
  def trainLogistic(feats: DataFrame, xCols: Seq[String], yCol: String,
      iters: Int, lr: Double): Array[Long] = {
    val tookCache =
      feats.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (tookCache) feats.persist()
    try trainLogisticCached(feats, xCols, yCol, iters, lr)
    finally if (tookCache) { feats.unpersist(); () }
  }

  private def trainLogisticCached(feats: DataFrame, xCols: Seq[String],
      yCol: String, iters: Int, lr: Double): Array[Long] = {
    import org.apache.spark.sql.functions._
    val n = feats.count()
    require(n > 0, "trainLogistic: empty training frame")
    var w = Array.fill(xCols.size + 1)(0L)
    (0 until iters).foreach { _ =>
      val z = xCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
        case (acc, (c, i)) => acc + lit(w(i + 1)) * col(c)
      } / 1000000.0
      val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
      val gCols = (lit(1.0): Column) +: xCols.map(col(_): Column)
      val aggs = gCols.zipWithIndex.map { case (x, i) =>
        sum(floor(lit(1000000.0) * (p - col(yCol)) * x).cast("long"))
          .as(s"g$i")
      }
      // bounded collect: 1 + xCols.size longs per iteration
      val g = feats.agg(aggs.head, aggs.tail: _*).collect()(0)
      w = w.indices.map(i => w(i) - (lr * g.getLong(i) / n).toLong).toArray
    }
    w
  }

  /** Score a feature frame with [[trainLogistic]] weights: the same
    * fast-sigmoid probability, predicted positive at p > 0.5. */
  def scoreLogistic(feats: DataFrame, xCols: Seq[String],
      w: Array[Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val z = xCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (c, i)) => acc + lit(w(i + 1)) * col(c)
    } / 1000000.0
    feats.withColumn("p", lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z))))
  }

  /** The document-table featurization shared with the q283 oracle:
    * label = lang is 'en'; features = clipped length, space ratio,
    * digit ratio — each floor-quantized to the 1e-4 grid so both
    * engines see identical doubles. */
  def lrDocFeatures(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select($"source",
      when($"lang" === "en", 1).otherwise(0).as("y"),
      (least($"n_chars", lit(10000L)) / 10000.0).as("x1"),
      (floor(lit(10000.0) * (length($"text") -
        length(regexp_replace($"text", " ", ""))) /
        greatest(length($"text"), lit(1))) / 10000.0).as("x2"),
      (floor(lit(10000.0) * (length($"text") -
        length(translate($"text", "0123456789", ""))) /
        greatest(length($"text"), lit(1))) / 10000.0).as("x3"))
  }

  /** q283 — the trained classifier over documents: 8 full-batch GD
    * iterations at lr=1, then per-source scoring counts WITH the
    * final scaled weights in every row — the DuckDB oracle replays
    * the whole training loop as a recursive CTE and must match the
    * weights LONG-for-long (the hash covers the entire optimization
    * trajectory, not just the final counts). */
  def q283LrQuality(s: SparkSession, dir: String): DataFrame = {
    val feats = lrDocFeatures(load(s, dir, "documents"))
    feats.cache()
    try {
      val w = trainLogistic(feats, Seq("x1", "x2", "x3"), "y",
        iters = 8, lr = 1.0)
      scoreLogistic(feats, Seq("x1", "x2", "x3"), w)
        .groupBy($"source").agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(when($"p" > 0.5, 1L).otherwise(0L)).as("n_pos"),
          sum(when(($"p" > 0.5) === ($"y" === 1), 1L).otherwise(0L))
            .as("n_correct"))
        .select($"source", $"n_docs", $"n_pos", $"n_correct",
          lit(w(0)).as("w0"), lit(w(1)).as("w1"),
          lit(w(2)).as("w2"), lit(w(3)).as("w3"))
    } finally { feats.unpersist(); () }
  }

  /** EXACT precision/recall table for a scored frame: bucket the
    * probability on the 1e-3 grid (floor — the same quantization
    * discipline as the features), then cumulative TP/FP from the top
    * bucket down and FN against the total positives — every cell an
    * exact integer, so the curve is engine-independent (precision/
    * recall ratios are the reader's division, not the engine's). The
    * bucket table is ≤ 1001 rows, so the unpartitioned cumulative
    * window is a bounded driver-scale frame (the q146 economics), not
    * a corpus sort. */
  def prCurve(scored: DataFrame, yCol: String = "y"): DataFrame = {
    import org.apache.spark.sql.functions._
    val b = scored
      .withColumn("bucket", floor($"p" * 1000.0).cast("long"))
      .groupBy($"bucket").agg(
        sum(when(col(yCol) === 1, 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("n"))
    val w = Window.orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    b.select($"bucket",
      sum($"pos").over(w).as("tp"),
      (sum($"n").over(w) - sum($"pos").over(w)).as("fp"),
      (sum($"pos").over(tot) - sum($"pos").over(w)).as("fn"))
  }

  /** q284 — the classifier's exact evaluation table: train (q283's
    * loop), score, and emit the cumulative PR cells per probability
    * bucket. The oracle replays training AND the curve — integers
    * end-to-end. */
  def q284PrCurve(s: SparkSession, dir: String): DataFrame = {
    val feats = lrDocFeatures(load(s, dir, "documents"))
    feats.cache()
    try {
      val w = trainLogistic(feats, Seq("x1", "x2", "x3"), "y",
        iters = 8, lr = 1.0)
      prCurve(scoreLogistic(feats, Seq("x1", "x2", "x3"), w))
    } finally { feats.unpersist(); () }
  }

  val oracles: Map[String, String] = Map(
    // q283: the ENTIRE training loop replayed as a recursive CTE —
    // same quantized features, same rational sigmoid, same exact-long
    // gradient sums, same truncated step; the weights must match
    // long-for-long after 8 iterations
    "q283_lr_quality" ->
      """WITH RECURSIVE feats AS (
        |  SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    least(n_chars, 10000) / 10000.0 AS x1,
        |    floor(10000.0 * (length(text) - length(replace(text, ' ', ''))) / greatest(length(text), 1)) / 10000.0 AS x2,
        |    floor(10000.0 * (length(text) - length(translate(text, '0123456789', ''))) / greatest(length(text), 1)) / 10000.0 AS x3
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM feats),
        |steps AS (
        |  SELECT 0 AS it, CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
        |         CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3
        |  UNION ALL
        |  SELECT it + 1,
        |    w0 - CAST(trunc(1.0 * g.g0 / (SELECT n FROM n)) AS BIGINT),
        |    w1 - CAST(trunc(1.0 * g.g1 / (SELECT n FROM n)) AS BIGINT),
        |    w2 - CAST(trunc(1.0 * g.g2 / (SELECT n FROM n)) AS BIGINT),
        |    w3 - CAST(trunc(1.0 * g.g3 / (SELECT n FROM n)) AS BIGINT)
        |  FROM steps, LATERAL (
        |    SELECT
        |      sum(CAST(floor(1000000.0 * (p - y) * 1.0) AS BIGINT)) AS g0,
        |      sum(CAST(floor(1000000.0 * (p - y) * x1) AS BIGINT)) AS g1,
        |      sum(CAST(floor(1000000.0 * (p - y) * x2) AS BIGINT)) AS g2,
        |      sum(CAST(floor(1000000.0 * (p - y) * x3) AS BIGINT)) AS g3
        |    FROM (
        |      SELECT y, x1, x2, x3, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
        |      FROM (SELECT y, x1, x2, x3,
        |        (w0 + w1 * x1 + w2 * x2 + w3 * x3) / 1000000.0 AS z
        |        FROM feats))) g
        |  WHERE it < 8),
        |final AS (SELECT * FROM steps WHERE it = 8)
        |SELECT f.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN p > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN (p > 0.5) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  max(w.w0) AS w0, max(w.w1) AS w1, max(w.w2) AS w2, max(w.w3) AS w3
        |FROM (
        |  SELECT source, y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
        |  FROM (SELECT source, y,
        |    (w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3) / 1000000.0 AS z
        |    FROM feats, final w)) f, final w
        |GROUP BY 1""".stripMargin,
    // q284: training replayed again, then the exact cumulative PR
    // cells per 1e-3 probability bucket — integers end-to-end
    "q284_pr_curve" ->
      """WITH RECURSIVE feats AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    least(n_chars, 10000) / 10000.0 AS x1,
        |    floor(10000.0 * (length(text) - length(replace(text, ' ', ''))) / greatest(length(text), 1)) / 10000.0 AS x2,
        |    floor(10000.0 * (length(text) - length(translate(text, '0123456789', ''))) / greatest(length(text), 1)) / 10000.0 AS x3
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM feats),
        |steps AS (
        |  SELECT 0 AS it, CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
        |         CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3
        |  UNION ALL
        |  SELECT it + 1,
        |    w0 - CAST(trunc(1.0 * g.g0 / (SELECT n FROM n)) AS BIGINT),
        |    w1 - CAST(trunc(1.0 * g.g1 / (SELECT n FROM n)) AS BIGINT),
        |    w2 - CAST(trunc(1.0 * g.g2 / (SELECT n FROM n)) AS BIGINT),
        |    w3 - CAST(trunc(1.0 * g.g3 / (SELECT n FROM n)) AS BIGINT)
        |  FROM steps, LATERAL (
        |    SELECT
        |      sum(CAST(floor(1000000.0 * (p - y) * 1.0) AS BIGINT)) AS g0,
        |      sum(CAST(floor(1000000.0 * (p - y) * x1) AS BIGINT)) AS g1,
        |      sum(CAST(floor(1000000.0 * (p - y) * x2) AS BIGINT)) AS g2,
        |      sum(CAST(floor(1000000.0 * (p - y) * x3) AS BIGINT)) AS g3
        |    FROM (
        |      SELECT y, x1, x2, x3, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
        |      FROM (SELECT y, x1, x2, x3,
        |        (w0 + w1 * x1 + w2 * x2 + w3 * x3) / 1000000.0 AS z
        |        FROM feats))) g
        |  WHERE it < 8),
        |final AS (SELECT * FROM steps WHERE it = 8),
        |buckets AS (
        |  SELECT CAST(floor(p * 1000.0) AS BIGINT) AS bucket,
        |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
        |    count(*) AS n
        |  FROM (SELECT y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
        |    FROM (SELECT y,
        |      (w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3) / 1000000.0 AS z
        |      FROM feats, final w))
        |  GROUP BY 1)
        |SELECT bucket,
        |  CAST(sum(pos) OVER (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |  CAST(sum(n) OVER (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - sum(pos) OVER (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
        |  CAST(sum(pos) OVER () - sum(pos) OVER (ORDER BY bucket DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fn
        |FROM buckets""".stripMargin,
    // q256: the word-2-gram dup fraction replayed with DuckDB's
    // 1-based list ops — same ≥2-word filter, same per-mille floor
    "q256_dup_ngram" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS w
        |  FROM documents),
        |g AS (SELECT source, CAST(len(w) - 1 AS BIGINT) AS n2,
        |    list_transform(generate_series(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i + 1]) AS grams
        |  FROM d WHERE len(w) >= 2),
        |m AS (SELECT source,
        |    ((n2 - len(list_distinct(grams))) * 1000) // n2
        |      AS dup_permille
        |  FROM g)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dup_permille >= 100 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_flagged,
        |  CAST(sum(dup_permille) AS BIGINT) AS sum_dup_permille
        |FROM m GROUP BY 1""".stripMargin,
    // q223: the integer-log likelihood-ratio replay — same add-1,
    // same bitlen-1 logs, same K offset from the scalar totals
    "q223_dsir_select" ->
      """WITH tgt AS (SELECT min(source) AS s FROM documents),
        |tk AS (SELECT doc_id, source, t
        |  FROM (SELECT doc_id, source,
        |      unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE len(t) >= 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS na,
        |    CAST(sum(CASE WHEN source = (SELECT s FROM tgt)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS nt FROM tk),
        |ct AS (SELECT t, CAST(count(*) AS BIGINT) AS ct FROM tk
        |  WHERE source = (SELECT s FROM tgt) GROUP BY 1),
        |ca AS (SELECT t, CAST(count(*) AS BIGINT) AS ca FROM tk GROUP BY 1),
        |sc AS (SELECT ca.t,
        |    (length(bin(coalesce(ct, 0) + 1)) - 1)
        |      - (length(bin(ca + 1)) - 1) AS sc
        |  FROM ca LEFT JOIN ct ON ca.t = ct.t),
        |ds AS (SELECT tk.doc_id, tk.source,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(sc) AS BIGINT) AS sum_s
        |  FROM tk JOIN sc ON tk.t = sc.t
        |  WHERE tk.source != (SELECT s FROM tgt) GROUP BY 1, 2)
        |SELECT doc_id, source, n_tokens,
        |  CAST(sum_s + n_tokens * ((length(bin((SELECT na FROM nn))) - 1)
        |    - (length(bin((SELECT nt FROM nn))) - 1)) AS BIGINT) AS score
        |FROM ds ORDER BY score DESC, doc_id LIMIT 100""".stripMargin,
    // q226: base + largest-remainder top-up, same tie-break
    "q226_apportion" ->
      """WITH w AS (SELECT source, CAST(count(*) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |t AS (SELECT source, w, (SELECT sum(w) FROM w) AS tot FROM w),
        |b AS (SELECT source, w, (w * 9973) // tot AS base,
        |    (w * 9973) % tot AS rem FROM t),
        |r AS (SELECT source, w, base,
        |    CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT)
        |      AS rk,
        |    9973 - (SELECT sum(base) FROM b) AS shortfall FROM b)
        |SELECT source, w,
        |  CAST(base + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM r""".stripMargin,
    // q232: the oracle IS the naive single-window global prefix (the
    // q173 precedent) — the distributed bucket form must reproduce it
    "q232_shard_cut" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    (((doc_id % 1000003) * 2654435761 % 1000003)) * 1000003
        |    + ((((doc_id // 1000003) % 1000003)
        |        + ((doc_id % 1000003) * 2654435761 % 1000003)) % 1000003)
        |      * 2654435761 % 1000003 AS ord
        |  FROM documents),
        |c AS (SELECT doc_id, ntok,
        |    coalesce(sum(ntok) OVER (ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM d)
        |SELECT CAST(cum_before // 2000 AS BIGINT) AS shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1""".stripMargin,
    // q228: the epoch-0 permutation rank (q129's ord expression) with
    // the exact floor-quota rule 100*rn <= n*p
    "q228_stratified_split" ->
      """WITH o AS (SELECT doc_id, source,
        |    (((doc_id % 1000003) * 2654435761 % 1000003)) * 1000003
        |    + ((((doc_id // 1000003) % 1000003)
        |        + ((doc_id % 1000003) * 2654435761 % 1000003)) % 1000003)
        |      * 2654435761 % 1000003 AS ord
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ord, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_total
        |  FROM o)
        |SELECT source, max(n_total) AS n_total,
        |  CAST(sum(CASE WHEN rn * 100 <= n_total * 20 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_val,
        |  CAST(sum(CASE WHEN rn * 100 <= n_total * 20 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_train,
        |  bit_xor(CASE WHEN rn * 100 <= n_total * 20 THEN doc_id
        |    ELSE 0 END) AS val_xor
        |FROM r GROUP BY 1""".stripMargin,
    // q208 replays tf → inverted-index pair dot + norms in HUGEINT
    "q208_source_similarity" ->
      """WITH tf AS (SELECT source, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |c AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
        |  FROM tf GROUP BY 1, 2),
        |n AS (SELECT source, sum(CAST(c AS HUGEINT) * c) AS ss
        |  FROM c GROUP BY 1),
        |d AS (SELECT a.source AS src_a, b.source AS src_b,
        |    sum(CAST(a.c AS HUGEINT) * b.c) AS dotd
        |  FROM c a JOIN c b ON a.t = b.t AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(dotd AS BIGINT) AS dot,
        |  CAST(na.ss AS BIGINT) AS ss_a, CAST(nb.ss AS BIGINT) AS ss_b
        |FROM d JOIN n na ON na.source = src_a
        |  JOIN n nb ON nb.source = src_b""".stripMargin,
    // parallel unnests zip positionally in DuckDB — w1/w2 stay aligned
    "q132_bigram_surprise" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |bg AS (SELECT doc_id,
        |  unnest(list_transform(generate_series(1, len(tk)-1), i -> tk[i])) AS w1,
        |  unnest(list_transform(generate_series(1, len(tk)-1), i -> tk[i+1])) AS w2
        |  FROM t WHERE len(tk) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1,2),
        |cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM
        |  (SELECT unnest(string_split(text,' ')) AS w FROM documents)),
        |sc AS (SELECT doc_id,
        |  (length(format('{:b}', cu.cu + v.v)) - 1)
        |    - (length(format('{:b}', cb.cb + 1)) - 1) AS bits
        |  FROM bg JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST((sum(bits) * 1000000) // count(*) AS BIGINT) AS score_ppm
        |FROM sc GROUP BY 1
        |ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin,
    // sum() yields HUGEINT in DuckDB — cast back to BIGINT before the
    // binary format (format rejects HUGEINT) and the arithmetic
    "q145_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text,'')) AS c
        |  FROM documents),
        |per AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1,2),
        |agg AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars,
        |  count(*) AS n_distinct,
        |  CAST(sum(k * (length(format('{:b}', CAST(k AS BIGINT))) - 1))
        |    AS BIGINT) AS sum_kl2k
        |  FROM per GROUP BY 1)
        |SELECT doc_id, n_chars,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  n_chars * (length(format('{:b}', n_chars)) - 1) - sum_kl2k
        |    AS surprise_bits,
        |  ((n_chars * (length(format('{:b}', n_chars)) - 1) - sum_kl2k)
        |    * 1000000) // n_chars AS bits_ppm
        |FROM agg""".stripMargin,
    // epoch-0 ordering inlined (epoch term vanishes at epoch = 0)
    // q175 replays the composed funnel as one CTE chain: cap -> BOW
    // dedup -> quality -> budget draw, then the five stage counts on a
    // source spine — hash equality proves the operators COMPOSE
    "q175_release_pipeline" ->
      """WITH o AS (SELECT doc_id, source, text,
        |  ((doc_id % 1000003) * 2654435761 % 1000003) * 1000003
        |  + ((((doc_id // 1000003) % 1000003)
        |      + (doc_id % 1000003) * 2654435761 % 1000003) % 1000003)
        |    * 2654435761 % 1000003 AS ord FROM documents),
        |capped AS (SELECT doc_id, source, text, ord FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY source ORDER BY ord, doc_id) AS rn FROM o)
        |  WHERE rn <= 15),
        |canon AS (SELECT *, array_to_string(
        |    list_sort(list_distinct(string_split(text, ' '))), ' ') AS cfp
        |  FROM capped),
        |surv AS (SELECT doc_id, source, text, ord FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY cfp) AS mn FROM canon)
        |  WHERE doc_id = mn),
        |qual AS (SELECT *,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM surv WHERE len(string_split(text, ' ')) >= 30),
        |drawn AS (SELECT * FROM (
        |    SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before FROM qual)
        |  WHERE cum_before < 300),
        |t0 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |  FROM documents GROUP BY 1),
        |t1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_capped
        |  FROM capped GROUP BY 1),
        |t2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique
        |  FROM surv GROUP BY 1),
        |t3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_quality
        |  FROM qual GROUP BY 1),
        |t4 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_drawn,
        |    CAST(sum(n_tokens) AS BIGINT) AS tokens_drawn,
        |    CAST(bit_xor(doc_id) AS BIGINT) AS drawn_xor
        |  FROM drawn GROUP BY 1)
        |SELECT t0.source, n_source,
        |  coalesce(n_capped, 0) AS n_capped,
        |  coalesce(n_unique, 0) AS n_unique,
        |  coalesce(n_quality, 0) AS n_quality,
        |  coalesce(n_drawn, 0) AS n_drawn,
        |  coalesce(tokens_drawn, 0) AS tokens_drawn,
        |  coalesce(drawn_xor, 0) AS drawn_xor
        |FROM t0
        |LEFT JOIN t1 USING (source) LEFT JOIN t2 USING (source)
        |LEFT JOIN t3 USING (source) LEFT JOIN t4 USING (source)"""
        .stripMargin,
    // q180's oracle is DuckDB's NATIVE ntile over the same total order
    // — hash equality proves the integer tile formula over distributed
    // ordinals reproduces the engine's own ntile semantics
    "q180_global_ntile" ->
      """WITH o AS (SELECT doc_id,
        |  ((doc_id % 1000003) * 2654435761 % 1000003) * 1000003
        |  + ((((doc_id // 1000003) % 1000003)
        |      + (doc_id % 1000003) * 2654435761 % 1000003) % 1000003)
        |    * 2654435761 % 1000003 AS ord FROM documents)
        |SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY ord, doc_id) - 1 AS BIGINT)
        |    AS ordinal,
        |  CAST(ntile(10) OVER (ORDER BY ord, doc_id) AS BIGINT) AS tile
        |FROM o""".stripMargin,
    // q173's oracle IS the single-partition global row_number the
    // operator refuses to plan — hash equality proves the bucketed
    // offset+window numbering reproduces it exactly
    "q173_dense_ordinals" ->
      """WITH o AS (SELECT doc_id,
        |  ((doc_id % 1000003) * 2654435761 % 1000003) * 1000003
        |  + ((((doc_id // 1000003) % 1000003)
        |      + (doc_id % 1000003) * 2654435761 % 1000003) % 1000003)
        |    * 2654435761 % 1000003 AS ord FROM documents)
        |SELECT doc_id, CAST(ord AS BIGINT) AS ord,
        |  CAST(row_number() OVER (ORDER BY ord, doc_id) - 1 AS BIGINT)
        |    AS ordinal
        |FROM o""".stripMargin,
    // q169 replays the epoch-0 draw order, the per-source row_number
    // cap, and the exact totals join — hash equality pins the kept SET
    // (not just its size) across engines
    "q169_source_cap" ->
      """WITH o AS (SELECT doc_id, source,
        |  ((doc_id % 1000003) * 2654435761 % 1000003) * 1000003
        |  + ((((doc_id // 1000003) % 1000003)
        |      + (doc_id % 1000003) * 2654435761 % 1000003) % 1000003)
        |    * 2654435761 % 1000003 AS ord FROM documents),
        |r AS (SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source ORDER BY ord, doc_id) AS rn FROM o),
        |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source
        |  FROM documents GROUP BY 1)
        |SELECT r.source, r.doc_id, t.n_source,
        |  CAST(least(10, t.n_source) AS BIGINT) AS n_kept
        |FROM r JOIN t ON r.source = t.source WHERE rn <= 10""".stripMargin,
    "q139_token_budget_draw" ->
      """WITH t AS (SELECT doc_id, source,
        |  len(string_split(text,' ')) AS n_tokens FROM documents),
        |o AS (SELECT doc_id, source, n_tokens,
        |  ((doc_id % 1000003) * 2654435761 % 1000003) * 1000003
        |  + ((((doc_id // 1000003) % 1000003)
        |      + (doc_id % 1000003) * 2654435761 % 1000003) % 1000003)
        |    * 2654435761 % 1000003 AS ord FROM t),
        |c AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY ord, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM o)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_drawn,
        |  CAST(bit_xor(doc_id) AS BIGINT) AS drawn_xor
        |FROM c WHERE cum_before < 800 GROUP BY 1""".stripMargin,
    "q129_epoch_shuffle" ->
      """WITH k AS (SELECT doc_id, unnest([CAST(0 AS BIGINT), 1]) AS epoch
        |  FROM documents),
        |o AS (SELECT doc_id, epoch,
        |  ((((doc_id % 1000003) + epoch * 999983) % 1000003)
        |    * 2654435761 % 1000003) * 1000003
        |  + ((((doc_id // 1000003) % 1000003)
        |      + (((doc_id % 1000003) + epoch * 999983) % 1000003)
        |        * 2654435761 % 1000003) % 1000003)
        |    * 2654435761 % 1000003 AS ord FROM k)
        |SELECT epoch, CAST(rank AS BIGINT) AS rank, doc_id,
        |  CAST(ord AS BIGINT) AS ord FROM (
        |  SELECT epoch, doc_id, ord, row_number() OVER (
        |    PARTITION BY epoch ORDER BY ord, doc_id) AS rank FROM o)
        |WHERE rank <= 10""".stripMargin,
    "q118_negative_samples" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |i AS (SELECT unnest(generate_series(1, 2)) AS i),
        |c AS (SELECT d.doc_id, CAST(i.i AS BIGINT) AS neg_ordinal,
        |  (d.doc_id * 48271 + i.i * 101) % n.n_docs AS neg_id
        |  FROM documents d CROSS JOIN n CROSS JOIN i)
        |SELECT c.doc_id, c.neg_ordinal, c.neg_id
        |FROM c JOIN documents e ON e.doc_id = c.neg_id
        |WHERE c.neg_id != c.doc_id""".stripMargin,
    "q81_interval_join" ->
      """SELECT p.event_id, CAST(count(k.ts) AS BIGINT) AS n_clicks
        |FROM events p LEFT JOIN events k
        |  ON p.user_id = k.user_id AND k.event_type = 'click'
        |  AND epoch_us(k.ts) <= epoch_us(p.ts)
        |  AND epoch_us(k.ts) > epoch_us(p.ts) - 3600000000
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "q82_bigram_lift" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, unnest(ts) AS w,
        |  unnest(list_transform(ts, (x,i) -> i)) AS pos FROM t WHERE len(ts) >= 2),
        |bg AS (SELECT x.w AS a, y.w AS b FROM tok x JOIN tok y
        |  ON x.doc_id = y.doc_id AND y.pos = x.pos + 1),
        |pair AS (SELECT a, b, count(*) AS cnt_ab FROM bg GROUP BY 1,2),
        |fst AS (SELECT a, sum(cnt_ab) AS cnt_a FROM pair GROUP BY 1),
        |snd AS (SELECT b, sum(cnt_ab) AS cnt_b FROM pair GROUP BY 1),
        |n AS (SELECT sum(cnt_ab) AS n FROM pair),
        |sc AS (SELECT a, b, cnt_ab,
        |  (cnt_ab * n.n * 1000000) // (cnt_a * cnt_b) AS lift_ppm
        |  FROM pair JOIN fst USING (a) JOIN snd USING (b) CROSS JOIN n
        |  WHERE cnt_ab >= 10),
        |r AS (SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, a, b) AS rk FROM sc)
        |SELECT a, b, CAST(cnt_ab AS BIGINT) AS cnt_ab,
        |  CAST(lift_ppm AS BIGINT) AS lift_ppm, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 20""".stripMargin,
    "q83_bow_fingerprint" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact,
        |  CAST(count(DISTINCT md5(array_to_string(
        |    list_sort(list_distinct(string_split(text,' '))),' '))) AS BIGINT) AS n_bow
        |FROM documents GROUP BY 1""".stripMargin,
    "q84_log2_quality" ->
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text,' ')) AS w
        |  FROM documents),
        |cnt AS (SELECT w, length(format('{:b}', count(*))) - 1 AS l2 FROM tok GROUP BY 1)
        |SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST((sum(l2) * 1000000) // count(*) AS BIGINT) AS score_ppm
        |FROM tok JOIN cnt USING (w)
        |GROUP BY 1, 2""".stripMargin,
    "q85_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |tot AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |  WHERE w IN ('spark','vector','window') GROUP BY 1,2),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT doc_id, sum(
        |    (22 * (((n - df) * 1000) // df) * tf * sumdl * 1000)
        |    // (10 * tf * sumdl + 3 * sumdl + 9 * dl * n)) AS score
        |  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN tot
        |  GROUP BY 1),
        |r AS (SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM sc)
        |SELECT doc_id, CAST(score AS BIGINT) AS score, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 10""".stripMargin,
    "q86_mixture_sample" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_in,
        |  CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_kept,
        |  CAST(coalesce(sum(CASE WHEN keep THEN n_tok END), 0) AS BIGINT) AS tokens_kept
        |FROM (SELECT source, len(string_split(text,' ')) AS n_tok,
        |  substr(md5(doc_id || ':' || source), 1, 4) <
        |    (CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
        |      THEN '8000' ELSE '4000' END) AS keep
        |  FROM documents)
        |GROUP BY 1""".stripMargin,
    "q87_cdc_chunk" ->
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS ts FROM documents),
        |tok AS (SELECT doc_id, source, unnest(ts) AS w,
        |  unnest(list_transform(ts, (x,i) -> i)) AS pos FROM t),
        |ck AS (SELECT doc_id, source, w, pos,
        |  sum(CASE WHEN substr(md5(w),1,1) = '0' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS chunk FROM tok),
        |chunks AS (SELECT doc_id, source, chunk, count(*) AS len,
        |  md5(string_agg(w, ' ' ORDER BY pos)) AS cfp
        |  FROM ck GROUP BY 1,2,3)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(DISTINCT cfp) AS BIGINT) AS n_distinct_chunks,
        |  CAST(max(len) AS BIGINT) AS max_chunk_tokens,
        |  CAST(sum(len) AS BIGINT) AS n_tokens,
        |  CAST((sum(len) * 1000000) // count(*) AS BIGINT) AS mean_chunk_ppm
        |FROM chunks GROUP BY 1""".stripMargin,
    // the CMS is a no-false-negative prefilter, so the result is exactly
    // the sketch-free heavy-hitter query
    "q88_cms_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
        |tot AS (SELECT count(*) AS total FROM tok)
        |SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |FROM tok CROSS JOIN tot
        |GROUP BY w, total
        |HAVING count(*) >= total // 64""".stripMargin,
    "q89_group_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |  md5(doc_id || ':' || source) AS h FROM documents),
        |r AS (SELECT source, doc_id, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM h)
        |SELECT source, doc_id, h FROM r WHERE rk <= 3""".stripMargin
  )
}
