package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Jobs

/** Streaming document ingest with exact dedup-at-ingest — the streaming
  * face of the batch curation surface: as document batches arrive, drop
  * every document whose content hash has been seen before, so the
  * downstream corpus only ever receives first occurrences.
  *
  * State = the set of seen content hashes (16 B each), partitioned by
  * hash across the state stores — the standard streaming-dedup shape.
  * With an event-time column a watermark bounds the state window
  * (`withWatermark` + `dropDuplicates(hash, ts)`); the documents table
  * carries no timestamp, so state here is the full seen-set (exactly
  * what exact dedup means for an unbounded corpus: the membership
  * structure IS the operator's working set — at 100 TB you shard it by
  * the same hash key across executors, which is what the state-store
  * partitioning does).
  */
object DocumentStream {

  /** The deduped stream: first occurrence of each content hash. */
  def dedupedDocs(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
  }

  /** Band-bucket fan-out of the persistent band index: each band key
    * hashes into one of this many partition buckets, so a batch's probe
    * prunes the store scan to `≤ LshBands × BandBuckets` partitions no
    * matter how much history the store holds. */
  val BandBuckets = 64

  /** Doc-id fan-out of the persistent signature rows: the verify stage
    * only reads the `pdoc` partitions that hold its candidate ids. */
  val SigBuckets = 32

  private def pdocCol = pmod(xxhash64(col("doc_id")), lit(SigBuckets.toLong))
    .cast("int")

  /** Band rows of a signature frame with the store's partition bucket;
    * `carry` columns ride along per band row (the store writes carry
    * `rep`/`pdoc` so one sigs-side join serves both store sides). */
  private[graft] def bucketedBands(sigs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    graft.operators.TextOps.bandFrame(sigs, carry)
      .withColumn("pbucket",
        pmod(xxhash64(col("bkey")), lit(BandBuckets.toLong)).cast("int"))

  /** The store's band side as a frame, or None when no store exists
    * yet. ONLY a missing path means "no store yet" — any other analysis
    * failure (schema corruption, an incompatible legacy layout under
    * the same root) must propagate: silently treating it as a fresh
    * store would forget all dedup history and re-admit duplicates. */
  private def storeBandsFrame(
      spark: SparkSession, sigStore: String): Option[DataFrame] =
    try Some(spark.read.parquet(s"$sigStore/bands"))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => None
    }

  /** The store's band index read PRUNED to the probe's buckets — the
    * scan carries a partition filter on `band` (a directory column) and
    * PUSHED min/max-prunable predicates on the SORTED `pbucket` data
    * column, so per-batch probe I/O scales with the BATCH's bucket
    * footprint, not with history (the sorted-index candidate-cell probe
    * discipline, reference `metadata_strategy_spectrum.py:727-734`).
    * The predicate is deliberately SEPARABLE — `band IN (…) AND pbucket
    * IN (…) AND (exact pairs)` — because a mixed-column OR alone would
    * defeat both partition pruning and filter pushdown. None until the
    * first batch creates the store or when the batch is empty. */
  private[graft] def prunedStoreBands(
      spark: SparkSession, sigStore: String,
      buckets: Seq[(Int, Int)]): Option[DataFrame] =
    // empty buckets short-circuits BEFORE the store read — the read is
    // an eager listing/schema pass that an empty probe never needs
    if (buckets.isEmpty) None
    else prunedStoreBands(storeBandsFrame(spark, sigStore), buckets)

  /** Pre-read-frame variant: the batch path reads the store ONCE and
    * threads the frame through both the existence gate and the pruned
    * probe — a second `spark.read.parquet` would repeat the partition
    * discovery + footer listing of the store's largest directory on
    * every micro-batch. */
  private[graft] def prunedStoreBands(
      store: Option[DataFrame],
      buckets: Seq[(Int, Int)]): Option[DataFrame] = {
    if (buckets.isEmpty) return None
    store.map { b =>
      val exact = buckets.map { case (band, pb) =>
        col("band") === lit(band) && col("pbucket") === lit(pb)
      }.reduce(_ || _)
      b.filter(
        col("band").isin(buckets.map(_._1).distinct: _*) &&
          col("pbucket").isin(buckets.map(_._2).distinct: _*) &&
          exact)
    }
  }

  /** Per-batch partitioned write into the store: `btag` keys the
    * micro-batch, and dynamic partition overwrite replaces ONLY this
    * batch's partitions — a replay after a mid-batch failure rewrites
    * identical files instead of appending duplicates. Batch callers
    * (no tag) append under a shared tag.
    *
    * LAYOUT: only low-cardinality keys become partition DIRECTORIES;
    * the fine-grained bucket keys are range-partitioned and SORTED
    * inside the files instead, so the probe prunes via parquet file/
    * row-group min-max stats. Writer-open cost is proportional to
    * (dirs × files): a (band, pbucket) directory scheme costs ~256
    * writer opens per micro-batch (measured 3.5 s at sf0.1 — it
    * dominated the batch), while dirs-by-band + sorted pbucket costs
    * ~4 with the SAME skip behavior.
    *
    * Range layout WITHOUT the sampling pass: the bucket domain is known
    * statically (`band` < [[graft.operators.TextOps.LshBands]], `pbucket`
    * < [[BandBuckets]], `pdoc` < [[SigBuckets]]), so instead of
    * `repartitionByRange` — whose RangePartitioner runs a whole extra
    * sampling JOB over the frame per write, two per batch — the rows
    * shuffle on a derived contiguous CHUNK of the key space
    * (`chunkExpr`), remapped through [[chunkPartitionValues]] so the
    * hash partitioner places every chunk ALONE in its own task (plain
    * `repartition(n, chunk)` hashes n values into n partitions: the
    * birthday bound leaves ~1/e of tasks empty and packs several
    * non-contiguous chunks per file, whose min/max bounds then stop
    * skipping). Each file covers exactly one chunk and is sorted
    * inside, so file- and row-group-level min/max bounds stay as tight
    * as true range partitioning while the write is a single shuffle
    * with no sampling prepass. `nChunks` bounds write parallelism; at
    * bigger batch sizes each task still fans its chunk into multiple
    * files via maxRecordsPerFile-style configs. */
  private def writeStorePart(
      df: DataFrame, path: String, tag: Option[String],
      dirCols: Seq[String], sortCols: Seq[String],
      chunkExpr: Option[org.apache.spark.sql.Column] = None,
      nChunks: Int = 32): Unit = {
    val tagged = df.withColumn("btag", lit(tag.getOrElse("adhoc")))
    val cols = "btag" +: dirCols
    val ranged = chunkExpr match {
      case Some(ch) =>
        val slots = chunkPartitionValues(nChunks)
        tagged.repartition(nChunks, element_at(
          typedLit(slots),
          (pmod(ch.cast("int"), lit(nChunks)) + lit(1)).cast("int")))
      case None if dirCols.isEmpty && sortCols.isEmpty => tagged.coalesce(1)
      case None => tagged.repartitionByRange((dirCols ++ sortCols).map(col): _*)
    }
    val sorted =
      if (sortCols.isEmpty) ranged
      else ranged.sortWithinPartitions((dirCols ++ sortCols).map(col): _*)
    val w = sorted.write.partitionBy(cols: _*)
    tag match {
      case Some(_) => w.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(path)
      case None => w.mode("append").parquet(path)
    }
  }

  /** chunk id c → an int whose Murmur3 hash lands in shuffle partition
    * c, making `repartition(n, ·)` a BIJECTION from chunks to tasks.
    * The remap is solved against the SAME expression the physical
    * `HashPartitioning` evaluates (`Murmur3Hash`, seed 42), driver-side
    * over the tiny static domain — no sampling job, no empty tasks, no
    * multi-chunk files. Correctness never depends on the solve: if
    * Spark ever changed the partitioner hash, placement degrades to
    * plain hash collisions (the probe still filters; only file-level
    * min/max tightness is lost). Memoized — the domains are the two
    * store constants, and each batch writes both sides. */
  private val chunkSlotCache =
    scala.collection.concurrent.TrieMap.empty[Int, Seq[Int]]
  private[graft] def chunkPartitionValues(n: Int): Seq[Int] =
    chunkSlotCache.getOrElseUpdate(n, {
      val inv = Array.fill(n)(-1)
      var v = 0
      var filled = 0
      while (filled < n) {
        val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
          Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)), 42)
          .eval(null).asInstanceOf[Int]
        val p = ((h % n) + n) % n
        if (inv(p) == -1) { inv(p) = v; filled += 1 }
        v += 1
      }
      inv.toSeq
    })

  /** NEAR-dup dedup of one arriving batch against the persistent
    * signature store — the streaming face of the MinHash+LSH pipeline.
    * The batch is signed ([[graft.operators.TextOps.signatureFrame]])
    * and band-probed against store ∪ batch; survivor selection then
    * runs as connected components over the verified pairs
    * ([[graft.operators.TextOps.clusterMembersFromPairs]], the q51/q73
    * batch discipline) with TRANSITIVE representative resolution: the
    * store keeps a signature row for EVERY document ever seen, each
    * carrying `rep` — the id of its surviving representative (self for
    * survivors) — so a chain a~b, b~c, a≁c drops both b and c no matter
    * how the three split across batches: c matches the STORED signature
    * of the dropped b and inherits b's rep a. Representative choice is
    * SURVIVOR-STABLE: a component containing any already-stored member
    * resolves to the min STORED representative — an emitted survivor
    * is final, and a later arrival (whatever its id) can never displace
    * one; min id is only the tie-break among brand-new docs, so no id
    * ordering across batches is assumed.
    *
    * HISTORY-PROOF probe: the store is persisted PRE-BANDED —
    * `sigStore/bands` with `band` as a partition directory and the
    * rows range-partitioned + SORTED by `pbucket` (= hash(bkey) mod
    * [[BandBuckets]]) carrying (doc_id, bkey, rep, pdoc), and
    * `sigStore/sigs` sorted the same way by `pdoc` (= hash(doc_id) mod
    * [[SigBuckets]]) carrying the signature rows. Per batch this reads
    * (a) only the band dirs + pbucket file/row-group ranges the batch's
    * own band keys hash into and (b) only the signature ranges holding
    * verify candidates — the scans carry partition filters on the dir
    * keys and min/max-prunable pushed predicates on the sorted bucket
    * columns, so probe I/O scales with the batch's footprint while the
    * store grows without bound (fine buckets live INSIDE files rather
    * than as directories because writer-open cost is proportional to
    * dirs×files — see [[writeStorePart]]). Candidate
    * DEGREE is guarded ([[graft.operators.TextOps.guardCandidates]]):
    * strict mode (default) refuses loudly in-plan when a boilerplate
    * cluster accumulated in the store would pair a new arrival against
    * more than `maxCandidates` members; `allowLossy = true` caps
    * instead (deterministic id order ⇒ replays cap identically) and
    * surfaces the drop count as a one-row parquet under
    * `sigStore/drops` — a capped true pair keeps a duplicate, never
    * loses a document.
    *
    * `batchTag` (the streaming path) makes the store writes IDEMPOTENT:
    * each micro-batch dynamically overwrites its own `btag` partitions,
    * so a replay after a mid-batch failure rewrites identical files
    * instead of appending duplicates. Batch callers (no tag) APPEND —
    * none of the untagged writes (sigs, bands, nor the lossy drops
    * sidecar) is replay-idempotent, so a caller that retries a failed
    * untagged call must pass a tag (or start a fresh store) or the
    * store double-counts. */
  def nearDupDedupBatch(
      batch: DataFrame, sigStore: String, threshold: Double,
      batchTag: Option[String] = None,
      maxCandidates: Int = graft.operators.TextOps.MaxCandidatesPerDoc,
      allowLossy: Boolean = false,
      warnAtOccupancy: Option[Double] = None,
      onWarn: String => Unit = msg => System.err.println(msg)): DataFrame = {
    import graft.operators.TextOps
    require(warnAtOccupancy.forall(f => f > 0 && f <= 1),
      s"warnAtOccupancy must be in (0, 1], got $warnAtOccupancy")
    // the warn rides the accounting sidecar's write lineage — strict
    // mode has no sidecar (its protection is the in-plan refusal at the
    // cap itself), so a warn fraction requires accounting mode
    require(warnAtOccupancy.isEmpty || allowLossy,
      "warnAtOccupancy requires allowLossy=true: the early warning rides " +
        "the accounting sidecar's existing write (zero extra jobs); " +
        "strict mode refuses loudly at the cap instead")
    val spark = batch.sparkSession
    val bandsExist = {
      val p = new org.apache.hadoop.fs.Path(s"$sigStore/bands")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
    }
    // batch-sized; consumed four times. LAZY localCheckpoint: the first
    // action over it (bucket collect with a store, otherwise the drops
    // write / member collect) materializes the blocks, so pinning the
    // signatures costs no job of its own — and unlike Dataset.persist
    // (columnar cache build, expensive for this wide frame of arrays +
    // K hash columns; measured slower than the eager-checkpoint ladder
    // it was meant to replace) the checkpoint stores raw row blocks and
    // TRUNCATES lineage, so the store writes' recacheByPath can never
    // invalidate-and-recompute it.
    lazy val newSigs = TextOps.signatureFrame(batch).localCheckpoint(false)
    // the batch's bucket footprint prunes the store scan — but on a
    // FRESH store there is nothing to prune, so the collect (a whole
    // distinct-shuffle action) only runs when a store exists. Bounded:
    // ≤ LshBands × BandBuckets distinct buckets.
    lazy val footprint = bucketedBands(newSigs)
      .select(col("band"), col("pbucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    // the store sides' read SETUP (directory listing + schema + relation
    // resolution) is pure DRIVER work — it runs beside the signature
    // planning + bucket-collect job as concurrent actions (guide §2.6's
    // overlap discipline applied to driver-side latency; measured
    // ~0.15 s of listing per probe batch that used to sit between jobs).
    // Existence is pre-checked with one cheap filesystem call so a fresh
    // store still skips every read; all three are awaited, so any
    // NON-missing-path read failure fails the batch here, before any
    // store write.
    lazy val storeRead = storeBandsFrame(spark, sigStore)
    lazy val storeSigs = spark.read.parquet(s"$sigStore/sigs")
    if (bandsExist) Jobs.all(() => storeRead, () => storeSigs, () => footprint)
    val store = if (bandsExist) storeRead else None
    val buckets = if (bandsExist) footprint else Seq.empty[(Int, Int)]
    // narrow projection over the pinned signatures — consumers
    // recompute it for free
    val newBands = bucketedBands(newSigs)
    // the pruned slice feeds BOTH the band probe and the rep/pdoc meta
    // lookup — lazily checkpointed so the store is scanned once per
    // batch (materialized by the pdoc collect below, no eager job)
    val storeBands = prunedStoreBands(store, buckets)
      .map(_.localCheckpoint(false))
    val slim = (d: DataFrame) => d.select(col("doc_id"), col("band"), col("bkey"))
    val probe = storeBands match {
      case Some(sb) => slim(sb).unionByName(slim(newBands))
      case None => slim(newBands)
    }
    // lossy mode pins rn (the guard and the drop stats both read it;
    // whichever action runs first materializes the blocks); strict mode
    // has a single consumer, so it stays lazy
    val rnRaw = TextOps.bandCandidates(probe, slim(newBands))
    val rnFrame = if (allowLossy) rnRaw.localCheckpoint(false) else rnRaw
    val (kept, nCapped) = TextOps.guardCandidates(rnFrame, maxCandidates, allowLossy)
    // with a store present, cand feeds BOTH the verify and the
    // candidate-id pruning — pin once; the pdoc collect below then
    // forces the strict-mode refusal before any store write. First-batch
    // case has a single consumer (verify), which itself materializes
    // before the writes, so it stays lazy.
    val cand =
      if (storeBands.isDefined) kept.localCheckpoint(false) else kept
    // verify + rep lookup touch the store only through the candidate ids
    val candIds = cand
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val storeMeta = storeBands.map { sb =>
      sb.select(col("doc_id"), col("rep"), col("pdoc")).distinct()
        .join(candIds, "doc_id").localCheckpoint(false)
    }
    // bounded collect: ≤ SigBuckets distinct pdoc partitions — ONE job
    // that materializes the pruned store scan and the guarded
    // candidates; the strict-mode raise_error fires here, before any
    // store mutation. pdoc is a PURE FUNCTION of doc_id (pdocCol), so
    // the partition list comes straight off the candidate ids — the
    // store-meta distinct+join that r16 ran inside this collect now
    // materializes lazily inside the (concurrent) store-write phase,
    // its only remaining consumer. The list is a superset of r16's
    // (it adds the new ids' buckets), which only widens the pruned
    // sigs scan within the batch's own bucket footprint — verify
    // results are unchanged (extra rows join no candidate).
    val pdocs =
      if (storeMeta.isEmpty) Seq.empty[Int]
      else candIds.select(pdocCol.as("pdoc")).distinct()
        .collect().map(_.getInt(0)).toSeq
    val shCols = (d: DataFrame) => d.select(col("doc_id"), col("sh_set"))
    val verifySigs =
      if (pdocs.isEmpty) shCols(newSigs)
      else // pdocs nonEmpty ⇒ a store exists ⇒ its sigs side was read
        shCols(storeSigs.filter(col("pdoc").isin(pdocs: _*)))
          .unionByName(shCols(newSigs))
    val pairs = TextOps.verifyPairs(cand, verifySigs, threshold)
    val members = TextOps.clusterMembersFromPairs(pairs)
    // transitive resolution: each member's candidate rep is its STORED
    // rep (history dups point at their survivor) or itself. The
    // component rep PREFERS stored candidates (survivor stability),
    // falling back to the min new id only for all-new components.
    val r0 = storeMeta match {
      case None =>
        members.select(col("doc_id"), col("cluster_id"),
          col("doc_id").as("r0"), lit(false).as("in_store"))
      case Some(meta) => members
        .join(meta.select(col("doc_id"), col("rep")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("rep"), col("doc_id")).as("r0"),
          col("rep").isNotNull.as("in_store"))
    }
    val reps = r0.groupBy(col("cluster_id")).agg(
      coalesce(min(when(col("in_store"), col("r0"))), min(col("r0")))
        .as("final_rep"))
    // assign is CHECKPOINTED (lazily — the sigs write is the action
    // that materializes it), never cache-persisted, and that distinction
    // is load-bearing: the store writes below trigger CacheManager
    // recacheByPath over sigStore, which INVALIDATES every cached plan
    // whose lineage reads the store (storeBands → cand → storeMeta →
    // assign); a persisted assign would silently recompute AFTER the
    // writes against the mutated store. Truncating the lineage here
    // makes assign (and survivors) immune, and the frame is small —
    // (doc_id, final_rep) for candidate docs only.
    val assign = r0.join(reps, "cluster_id")
      .select(col("doc_id"), col("final_rep"))
      .localCheckpoint(false) // consumed by dupIds AND both store writes
    val dupIds = assign.filter(col("doc_id") =!= col("final_rep"))
      .select(col("doc_id"))
    val survivors = batch.join(dupIds, Seq("doc_id"), "left_anti")
    // ONE join SHAPE serves BOTH store sides: rep/pdoc attach to the
    // one-row-per-doc signature frame (newSigs cached + assign cached
    // and broadcast-small, so re-deriving it for the band side is two
    // map-side stages over warm caches — cheaper than caching the wide
    // repped frame a second time), and the band side carries rep/pdoc
    // through the explode instead of joining the ×LshBands-wider rows
    val reppedSigs = newSigs
      .join(assign, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("final_rep"), col("doc_id")))
      .drop("final_rep")
      .withColumn("pdoc", pdocCol)
    // the three store outputs (sigs, bands, lossy drops accounting) are
    // INDEPENDENT files over already-pinned inputs — launch them as
    // concurrent jobs (Spark's scheduler interleaves them across the
    // executor cores; each alone underfills the cluster with this
    // layout's bounded task counts) instead of paying three sequential
    // action round-trips. Shared upstream state is checkpoint-pinned
    // (newSigs, assign, rnFrame), so a concurrent first-touch at worst
    // computes a small frame twice — never against a mutated store.
    // Failures propagate: Jobs.all awaits every write before it throws
    // (a retry never races an orphaned write on the same btag partition
    // directories), and a partial failure leaves the same state as a
    // sequential one — tagged replays overwrite their own btag
    // partitions idempotently.
    locally {
      // opt-in bucket-heat early warning (the sigStoreStats
      // max_bucket_occupancy signal, wired into the ingest path): the
      // accounting row already aggregates max_degree over the probe's
      // rn column — an Observation on the SAME write action surfaces
      // it driver-side with zero additional jobs or scans, and the
      // warn fires before tomorrow's batch trips the cap refusal
      val obs = warnAtOccupancy.map(_ => new org.apache.spark.sql.Observation())
      val dropsFrame = obs match {
        case Some(o) => nCapped.observe(o,
          max(col("max_degree")).as("max_degree"),
          max(col("n_capped_pairs")).as("n_capped_pairs"))
        case None => nCapped
      }
      Jobs.all(Seq(
        () => writeStorePart(reppedSigs,
          s"$sigStore/sigs", batchTag, Seq.empty, Seq("pdoc"),
          chunkExpr = Some(sigsChunk), nChunks = SigBuckets),
        () => writeStorePart(
          bucketedBands(reppedSigs, carry = Seq("rep", "pdoc")),
          s"$sigStore/bands", batchTag, Seq("band"), Seq("pbucket"),
          chunkExpr = Some(bandsChunk), nChunks = 32)) ++
        (if (allowLossy) Seq(() => writeStorePart(
          dropsFrame, s"$sigStore/drops", batchTag, Seq.empty, Seq.empty))
         else Seq.empty): _*)
      for (f <- warnAtOccupancy; o <- obs) {
        // the observed write was awaited above, so `get` returns
        // immediately (it blocks only until its action completes)
        val deg = o.get.get("max_degree")
          .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
        if (deg >= (f * maxCandidates).ceil.toLong)
          onWarn(
            s"nearDupDedupBatch${batchTag.fold("")(t => s"[$t]")}: a " +
              s"document's store-probe candidate degree reached $deg — " +
              f"${100.0 * deg / maxCandidates}%.0f%% of maxCandidates=" +
              s"$maxCandidates. A near-duplicate cluster is accumulating " +
              "across the store's band buckets; dedup upstream or raise " +
              "maxCandidates before the degree guard starts capping (or " +
              "refusing).")
      }
    }
    // the awaited writes were the LAST consumers of every pinned frame
    // except `assign` (the returned lazy survivors frame reads it — it
    // is (doc_id, final_rep) for candidate docs only, the one bounded
    // block set a caller's action still needs). Each frame below is a
    // checkpoint-truncated single-leaf plan, so the release frees
    // exactly its own blocks; without it a long-lived streaming session
    // accumulates five dead block sets per micro-batch until driver GC.
    // Release only frames this invocation actually checkpointed (the
    // strict-mode rnFrame / first-batch cand aliases are raw plans
    // whose traversal would free UPSTREAM checkpoints still in use).
    // Error paths skip the release and fall back to ContextCleaner GC.
    TextOps.releaseLocalCheckpoint(newSigs)
    storeBands.foreach(TextOps.releaseLocalCheckpoint)
    if (allowLossy) TextOps.releaseLocalCheckpoint(rnFrame)
    if (storeBands.isDefined) TextOps.releaseLocalCheckpoint(cand)
    storeMeta.foreach(TextOps.releaseLocalCheckpoint)
    survivors
  }

  /** Static range chunks for the store writes (see [[writeStorePart]]):
    * the key domains are known, so contiguous key chunks replace the
    * RangePartitioner's sampling pass. */
  private def sigsChunk = col("pdoc") // SigBuckets values → 1 bucket/chunk
  private def bandsChunk = // (band, pbucket) space in 8-pbucket runs
    (col("band") * lit(BandBuckets) + col("pbucket")).divide(lit(8))
      .cast("int")

  /** Operational stats over the signature store: per batch tag, docs
    * written and duplicates resolved (rep ≠ self), with the store-wide
    * HOTTEST band-bucket occupancy — the early-warning metric for the
    * degree guard: a (band, bkey) bucket whose membership approaches
    * `maxCandidates` means the next near-copy of that cluster will trip
    * the cap (or start dropping pairs in lossy mode). One scan of each
    * store side, aggregates only. */
  def sigStoreStats(spark: SparkSession, sigStore: String): DataFrame = {
    val perTag = spark.read.parquet(s"$sigStore/sigs")
      .groupBy(col("btag")).agg(
        count(lit(1)).as("n_docs"),
        count(when(col("rep") =!= col("doc_id"), lit(1))).as("n_dups"))
    val hottest = spark.read.parquet(s"$sigStore/bands")
      .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("n"))
      .groupBy().agg(max(col("n")).as("max_bucket_occupancy"))
    perTag.crossJoin(broadcast(hottest))
  }

  /** The store's batch tags, discovered from FILESYSTEM METADATA alone
    * — one directory listing per store side (`btag=` partition dirs),
    * never a Spark scan of the data. Reads BOTH sides so a partially
    * compacted store (a crash that consolidated only one side) still
    * reports every live tag. Public: the compaction done-check, the
    * q133 gate's compacted-tag assertion, and operators' store
    * introspection all share it. */
  def storeTags(spark: SparkSession, sigStore: String): Seq[String] = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(sigStore).getFileSystem(hconf)
    Seq("sigs", "bands").flatMap { side =>
      val p = new org.apache.hadoop.fs.Path(s"$sigStore/$side")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("btag="))
        .map(_.stripPrefix("btag="))
    }.distinct
  }

  /** Signature-store COMPACTION: an always-on stream accumulates one
    * `btag` partition per micro-batch forever; this rewrites every
    * batch partition into one consolidated tag and drops the old
    * directories — pure layout convergence (reps are immutable, so
    * merging tags cannot change any probe result; StreamingSpec pins
    * store-content identity and post-compaction dedup behavior, and
    * the q133 oracle gate pins survivor identity across a mid-stream
    * compaction).
    *
    * Tag discovery is METADATA-ONLY ([[storeTags]] — two directory
    * listings), so an already-consolidated store costs ZERO Spark jobs
    * to check (StreamingSpec asserts this).
    *
    * Crash-safe commit: the consolidated partitions are STAGED under a
    * dot-prefixed temp root (invisible to Spark's file listing) and
    * FS-renamed into place as a FRESH versioned tag (`compacted-N`,
    * never overwriting an existing one — overwriting the previous
    * consolidated tag in place would make its non-atomic commit the
    * only copy of all history), and only THEN are the old tags
    * deleted. Staging also means the consolidation never overwrites
    * the same root it is reading — self-read-and-overwrite of one
    * path only works today because dynamic partition overwrite lists
    * input files before committing, which is fragile across Spark
    * versions. A crash anywhere leaves a readable store: before the
    * renames, nothing in the store changed (stale staging dirs are
    * swept on the next run); between the renames and the deletes,
    * rows are transiently duplicated, which the probe tolerates
    * (candidates and meta are distinct()-ed, duplicate verified pairs
    * are harmless to the union-find) and the next compaction
    * converges via `dropDuplicates`. */
  def compactSigStore(spark: SparkSession, sigStore: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(sigStore).getFileSystem(hconf)
    val allTags = storeTags(spark, sigStore)
    if (allTags.size <= 1) return // already consolidated: zero Spark jobs
    val Ver = raw"compacted-(\d+)".r
    val next = "compacted-" + (allTags.collect {
      case Ver(n) => n.toLong }.foldLeft(-1L)(_ max _) + 1)
    val staging = s"$sigStore/.compact-staging"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true) // stale crash residue
    // the two sides are independent reads/writes of disjoint
    // directories — run them as concurrent jobs (the nearDupDedupBatch
    // store-write pattern): each alone underfills the cluster with
    // this layout's bounded task counts, and the staging renames below
    // happen only after BOTH complete, so crash-safety is unchanged
    Jobs.all(
      () => writeStorePart(
        spark.read.parquet(s"$sigStore/sigs").drop("btag")
          .dropDuplicates("doc_id"),
        s"$staging/sigs", Some(next), Seq.empty, Seq("pdoc"),
        chunkExpr = Some(sigsChunk), nChunks = SigBuckets),
      () => writeStorePart(
        spark.read.parquet(s"$sigStore/bands").drop("btag")
          .dropDuplicates("doc_id", "band"),
        s"$staging/bands", Some(next), Seq("band"), Seq("pbucket"),
        chunkExpr = Some(bandsChunk), nChunks = 32))
    for (side <- Seq("sigs", "bands")) {
      val src = new org.apache.hadoop.fs.Path(s"$staging/$side/btag=$next")
      val dst = new org.apache.hadoop.fs.Path(s"$sigStore/$side/btag=$next")
      if (!fs.rename(src, dst))
        throw new IllegalStateException(
          s"compactSigStore: staging rename $src -> $dst failed — store " +
            "left untouched on this side; re-run the compaction")
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // drops are NOT compacted: each accounting row keeps its per-batch
    // identity (summing would double-count under a crash/re-run), and
    // the sidecar is one tiny row per batch — not a scan-path cost
    for (side <- Seq("sigs", "bands"); tag <- allTags) {
      val p = new org.apache.hadoop.fs.Path(s"$sigStore/$side/btag=$tag")
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** The streaming wrapper: documents arriving under `srcDir` flow
    * through [[nearDupDedupBatch]] per micro-batch (`foreachBatch` —
    * the incremental-artifact pattern, same as ObservationStream's
    * update loop). Both sinks are batch-scoped OVERWRITES keyed by the
    * micro-batch id, so post-failure replays are idempotent — the
    * foreachBatch exactly-once recipe. Production callers MUST pass
    * `checkpointDir`: batch-id idempotency only survives a query
    * restart when the batch ids themselves do, and without a durable
    * checkpoint a restarted query renumbers from 0 and reprocesses
    * every input (temp-checkpoint default kept for tests/exploration). */
  def nearDupDedupedStream(
      spark: SparkSession, srcDir: String, sigStore: String, outDir: String,
      threshold: Double = 0.8,
      checkpointDir: Option[String] = None,
      maxCandidates: Int = graft.operators.TextOps.MaxCandidatesPerDoc,
      allowLossy: Boolean = false,
      warnAtOccupancy: Option[Double] = None,
      onWarn: String => Unit = msg => System.err.println(msg)
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    // probe with the SAME options as the stream read — a stray
    // non-parquet file must not break schema inference when the glob
    // would have excluded it from the stream anyway
    val schema = spark.read
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true").parquet(srcDir).schema
    val writer = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupDedupBatch(batch, sigStore, threshold, Some(s"batch_$batchId"),
            maxCandidates, allowLossy, warnAtOccupancy, onWarn)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Drain the stream (memory sink) and profile survivors per source —
    * must equal the batch `q17_dedup_exact` distinct counts. */
  def dedupProfile(spark: SparkSession, dir: String): DataFrame = {
    val name = "docdedup_" + UUID.randomUUID().toString.replace("-", "")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try dedupedDocs(spark, dir).writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
  }
}
