package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._
import graft.sources.{Expectations, TxnLake}
import graft.sources.Expectations.Expectation

/** Streaming document-curation ingest — the daily-batch production shape
  * composed from three verified tiers: Structured Streaming micro-batches
  * (the x04–x22 surface), the d47 stage-1 curation contract (scrub →
  * quality gate → exact dedup), and the exactly-once transactional sink
  * with commit-time expectations
  * ([[graft.sources.Expectations.commitOnceWithExpectations]]).
  *
  * Per micro-batch: NFC scrub + control-char strip, quality/language
  * gate, WITHIN-batch exact-dedup survivor (min doc_id per fingerprint),
  * then an anti-join against the fingerprints ALREADY COMMITTED to the
  * target table (first-arriving batch owns a fingerprint forever — the
  * streaming analog of d05's min-doc_id canon under arrival order), and
  * an idempotent expectations-gated append. foreachBatch is officially
  * at-least-once; the (appId, batchId) txn in the table log makes the
  * table observe each batch exactly once even when the CHECKPOINT is
  * lost (x32 replays with a fresh checkpoint to prove it — the batch is
  * re-delivered and the log skips it).
  *
  * Scale: the anti-join probes the table's fingerprint column only (at
  * 100 TB, the committed-fp side is the lake's own column pruned to one
  * 128-bit key — a broadcast for daily volumes, an fp-keyed shuffle
  * beyond); everything else is per-row or batch-local. State lives in
  * the checkpoint, idempotence in the table log, recovering
  * independently (the x22 doctrine).
  */
object CurationStream {

  /** documents.parquet schema as landed (matches TESTDATA.md). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocs(spark: SparkSession, landing: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(landing)

  /** The curated-corpus commit contract (mirrors CurateCorpus's spirit at
    * the streaming grain). */
  val IngestExpectations: Seq[Expectation] = Seq(
    Expectation("doc_id_present", col("doc_id").isNotNull),
    Expectation("fp_wellformed", length(col("fp")) === 32),
    Expectation("tokens_at_least_20", col("n_tokens") >= 20))

  /** The shared stage-1/2 tier — scrub → quality/language gate →
    * within-batch exact-dedup survivor — factored to ONE definition so
    * the three batch curators (x32/x33/x34) can never skew on a gate
    * threshold or the canon rule. Emits (doc_id, fp, n_tokens, text).
    *
    * Optimization round 19 (guide §1.2/§2.5): the gate below is the
    * CPU-expensive per-batch compute (NFC normalize + three regexes +
    * tokenize + langid + fingerprint per row), and it used to re-run
    * 4-6× per batch — the canon build and the join's probe side are two
    * subtrees of one plan, and the expectations sink then evaluates the
    * whole curator once for the quarantine count and once for the target
    * write. Two changes, measured by job-level profiling at sf0.1:
    *
    *  1. SPREAD an under-partitioned batch before the gate. A wave lands
    *     as one small file, so the scan is ONE task and the gate chain
    *     serialized on a single core with the other 31 idle (0.6-1.4 s
    *     single-task jobs). At production scale a day's batch arrives in
    *     >= cores splits and the branch is a no-op; below that the
    *     repartition shuffles only the raw batch bytes once — exactly
    *     the guide's "input skew: repartition immediately after the
    *     read" rule, conditioned on measured partition deficit.
    *  2. PIN the gate output once (localCheckpoint), then pin the canon
    *     survivor set once; every downstream consumer (committed-fp
    *     anti-join, near-dup/decontam probes, quarantine count, target
    *     write, index increments) is a KB-scale checkpoint scan. The
    *     gate now runs exactly ONCE per micro-batch.
    *
    * Replayed batches never reach this (the sinks' replay fast-path
    * checks the txn log before building the curator), so the eager pin
    * costs nothing on the replay wave. */
  private[graft] def gatedSurvivors(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val src =
      if (batch.rdd.getNumPartitions < cores) batch.repartition(cores)
      else batch
    // Pin the scrub + tokenize ONCE, with the token array materialized:
    // the gate predicate below used to inline `tokens(text)` (and through
    // it the NFC normalize + control scrub) at every reference — and
    // because filters push below a repartition while projections do not,
    // the whole inlined predicate also sank into the single pre-spread
    // scan task. Materializing (doc_id, text, toks) behind a checkpoint
    // (an optimizer barrier) keeps the expensive normalize+split at ONE
    // evaluation per row, spread across cores, and every predicate read
    // is an array access on stored data. The token array is dropped at
    // the survivor pin below, so only the batch-sized intermediate
    // carries it.
    val toksed = graft.plans.JobLabel.labeled(s, "curate:pin-scrubbed") {
      org.apache.spark.sql.GraftCheckpointShim.pinWithMeasuredStats(
        src.select(col("doc_id"),
            regexp_replace(
              graft.expressions.TextExpressions.nfcNormalize(col("text")),
              graft.functions.TextFunctions.CtrlClassSpark, "").as("text"))
          .withColumn("toks", tokens(col("text"))))
    }
    val gated = toksed
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("alpha_ratio",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("double")
          / length(col("text")))
      .filter(col("n_tokens") >= 20 && col("alpha_ratio") >= 0.5
        && langId(col("toks")) =!= "und")
      .withColumn("fp", fingerprint(col("text")))
      .select("doc_id", "fp", "n_tokens", "text")
    // Within-batch canon (min doc_id per fp) as a min-over-window filter:
    // row-for-row identical to the previous groupBy + doc_id left-semi
    // join (every row whose doc_id equals its fp-group minimum survives),
    // but the gate subtree appears ONCE in the plan instead of twice
    // (build + probe sides) and the plan carries one exchange instead of
    // an aggregate exchange plus a join.
    //
    // Scale-adaptive canon width (round 20, guide §2.2/§2.4): the window
    // would otherwise shuffle into the session-constant
    // spark.sql.shuffle.partitions — for a KB-scale micro-batch that is
    // cores × cores bypass-writer shuffle files per exchange, pure
    // file-create latency (stack sampling: BypassMergeSortShuffleWriter
    // open0/map0/unmap0 dominated executor time in this tier). Derive
    // the width from the MEASURED pinned batch bytes (ceil(bytes /
    // advisory partition size), capped at the session setting so a
    // backfill-scale batch keeps the configured width). The explicit
    // same-key repartition REPLACES the window's implicit exchange — a
    // hash partitioning of any width satisfies the window's clustered
    // distribution, so no second exchange is planned.
    val want = adaptiveWidth(s, toksed)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    graft.plans.JobLabel.labeled(s, "curate:pin-survivors") {
      org.apache.spark.sql.GraftCheckpointShim.pinWithMeasuredStats(
        gated.repartition(want, col("fp"))
          .withColumn("__mn", min(col("doc_id")).over(w))
          .filter(col("doc_id") === col("__mn")).drop("__mn"))
    }
  }

  /** ceil(measured pinned bytes / advisory partition size), clamped to
    * [1, spark.sql.shuffle.partitions] — the reduce width a byte-sized
    * exchange of this intermediate deserves. Scale-adaptive by
    * construction: a micro-batch gets 1-2 slots, a backfill keeps the
    * session width. */
  private def adaptiveWidth(s: SparkSession, pinned: DataFrame): Int = {
    val bytes = pinned.queryExecution.optimizedPlan.stats.sizeInBytes
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val cur = s.conf.get("spark.sql.shuffle.partitions").toInt
    val capped = bytes.max(1).min(BigInt(advisory) * cur)
    (((capped + advisory - 1) / advisory).toInt).max(1)
  }

  /** Input bytes per CPU slot for [[spreadForCpu]]. */
  private val CpuAdvisoryBytes = 128L * 1024

  /** Spread an under-partitioned (typically width-adapted, KB-scale)
    * frame before a CPU-bound per-row stage (shingling, gram explode,
    * excision) — to a width the input's MEASURED bytes justify, not
    * blindly to core count. Every downstream exchange pays map×reduce
    * shuffle-file creates (the bypass writer opens one file per reduce
    * partition per map task, empty or not — stack sampling put
    * FileOutputStream.open0 at the top of this tier's executor time), so
    * fanning a KB micro-batch to 32 map slots multiplied every probe/
    * index exchange's file churn 16-32x for ~20 ms of CPU win. Width =
    * ceil(bytes / [[CpuAdvisoryBytes]]), clamped to [1, cores]: a KB
    * batch takes a few slots, a production batch still saturates the
    * machine (and a plan with UNKNOWN size — no pin, no file scan behind
    * it — keeps the full-cores spread). Never shrinks an already-wider
    * frame. */
  private[graft] def spreadForCpu(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val adv = BigInt(CpuAdvisoryBytes)
    val want =
      if (bytes <= 0 || bytes >= BigInt(Long.MaxValue) / 4) cores
      else ((bytes + adv - 1) / adv).min(cores).toInt.max(1)
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Marker txn ids under which the sink persists how far the coverage
    * classification in [[indexCovered]] has VERIFIED each log — the scan
    * lower bounds that keep per-batch trust evaluation O(commits since
    * the last verified probe) instead of O(log). Stored in the INDEX
    * log's cumulative txn map (one O(1) read), piggybacked atomically on
    * the increment commit via `commitOnce(extraTxns)`. A missing or
    * stale marker only widens the scan — never unsoundly narrows it,
    * because markers are recorded exclusively AFTER a successful
    * classification of exactly the versions they point past. */
  private def covTxn(indexTxnId: String) = indexTxnId + "@cov"
  private def icovTxn(indexTxnId: String) = indexTxnId + "@icov"

  /** In-JVM handoff from the probe's classification to the sink's marker
    * persistence within the SAME micro-batch: (index path, index txn id)
    * → (corpus version verified through, index version verified
    * through). Keyed by BOTH — two apps sharing one index path in one
    * JVM must never hand one app's verified tuple to the other's marker
    * (the scan bound would then skip versions the receiving app never
    * classified: unsound under-masking). Consumed (removed) by the sink
    * when it commits the increment; cleared by the runners at start so a
    * Scratch-path reuse in one JVM can never persist a stale tuple onto
    * a fresh log. */
  private val verifiedCoverage =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Long, Long)]

  /** Observability seam: which path served each (corpus table, batchId)
    * near-dup/decontam probe — "indexed" (delta-vs-index), "recompute"
    * (trust failed, O(corpus) fallback), or "first" (empty corpus, no
    * probe). The x40 gate reads this to PROVE maintenance commits did
    * not de-trust the index. */
  private[graft] val probePaths =
    scala.collection.concurrent.TrieMap.empty[(String, Long), String]
  private[graft] def clearProbeLog(table: String): Unit = {
    probePaths.keys.filter(_._1 == table).foreach(probePaths.remove)
    ()
  }

  /** Observability seams for the scan-pruned probes — (files kept, files
    * total) of the most recent pruned scan of each corpus-sized relation,
    * and whether the decontam probe's index-side plan was shuffle-free.
    * The x46/x47 gates read these (the x39 `lastProbeSkipping` doctrine
    * for the text tier). */
  @volatile private[graft] var lastFpSkipping: (Int, Int) = (0, 0)
  @volatile private[graft] var lastBandIndexSkipping: (Int, Int) = (0, 0)
  @volatile private[graft] var lastCorpusIdSkipping: (Int, Int) = (0, 0)
  @volatile private[graft] var lastWindexSkipping: (Int, Int) = (0, 0)
  @volatile private[graft] var lastDecontamProbeShuffleFree: Boolean = false

  /** Size bound on the per-batch driver-side key collects the scan-pruned
    * probes perform (distinct fingerprints, band hashes, 13-gram windows)
    * — ONE definition for every probe tier
    * ([[graft.plans.ProbePlanner.maxDriverKeys]]). A DAILY delta sits far
    * below it by construction; a batch above it — a backfill replaying
    * months at once, a bootstrap wave that IS the corpus — keeps the key
    * set DISTRIBUTED: the kept-file decision moves to the executors
    * ([[graft.sources.TxnLake.readKeyedDistributed]] — sidecars probed
    * as data), identical semantics, delta-scaled compute, no driver
    * collect AND no full-index scan. Session-configurable because
    * "daily volume" is a deployment property, not an engine constant. */
  private def maxDriverKeys(s: SparkSession): Long =
    graft.plans.ProbePlanner.maxDriverKeys(s)

  /** The probe-path planner rule: take the scan-pruned (collect +
    * bloom-skip + broadcast) probe only while the delta's key count is
    * driver-collectable ([[maxDriverKeys]]). The overheads the pruned
    * probe pays — the key collect, the per-file bloom probes, the
    * broadcast build — all track the DELTA, so the absolute key count is
    * the deciding variable, measured at both ends: 165k band keys still
    * WON against the shuffle join at factor 30 (104 s vs 117 s — even
    * with the delta at half the corpus), while 2M window grams LOST at
    * factor 10 (41.8 s vs 37.9 s — a ~200 MB collect+broadcast buys
    * little when the keys blanket the index anyway). The 1M default sits
    * between the measured ends; deployments size it like any planner
    * threshold. Beyond it the probe keeps the SAME scan pruning with the
    * membership test distributed (since r17): identical rows, file I/O
    * still tracking true key collisions, and the only added cost is a
    * delta-scaled exactness shuffle in place of the broadcast. */
  private def pruneWorthwhile(s: SparkSession, relation: String,
                              deltaKeys: Long): Boolean =
    deltaKeys <= maxDriverKeys(s)

  /** Bloom-indexed columns every corpus commit declares: `fp` makes the
    * committed-fingerprint gate's scan prunable (hash-uniform hex — file
    * min/max spans the whole domain, only membership bits can skip), and
    * `doc_id` makes the near-dup verify's candidate text rebuild prunable
    * even on layouts whose id ranges overlap across files. */
  private[graft] val CorpusBloomCols: Seq[String] = Seq("fp", "doc_id")

  /** The exact-dedup gate against the COMMITTED fingerprints, scan-scaled:
    * instead of anti-joining the batch against an O(corpus) fp scan (and
    * shuffling both sides), collect the batch's distinct fingerprints
    * (O(delta) driver — a day's volume), load only the corpus files whose
    * Bloom sidecars might contain one ([[graft.sources.TxnLake.readKeyed]]),
    * stream those files against a BROADCAST of the delta fps to get the
    * (small) truly-matched set, and anti-join the batch against THAT
    * broadcast. Zero shuffle on the corpus side; files read tracks true
    * fp collisions, not corpus size. Tables founded before the bloom
    * declaration prune conservatively (all files kept) with identical
    * rows. Pins the survivor plan once (it feeds the collect, the
    * anti-join, and every downstream consumer). */
  private def antiJoinCommittedFps(pinnedSurvivors: DataFrame,
                                   table: String): DataFrame = {
    val s = pinnedSurvivors.sparkSession
    if (TxnLake.latestVersion(s, table).isEmpty) return pinnedSurvivors
    import graft.plans.JobLabel.labeled
    // the parameter name is the contract: survivors arrive PINNED from
    // gatedSurvivors (round-19 optimization: one checkpoint serves the
    // fp-delta build, the anti-join probe side, and every sink action) —
    // re-checkpointing a checkpoint scan here would only add a job, and an
    // UNPINNED input would silently re-run the gate once per action
    val sv = pinnedSurvivors
    val deltaFps = sv.select("fp").distinct()
    val nFps = labeled(s, "curate:delta-fp-count") { deltaFps.count() }
    if (!pruneWorthwhile(s, table, nFps)) {
      // oversized or corpus-scale batch (backfill/bootstrap): the kept-
      // file decision moves to the EXECUTORS — the delta's fps probe the
      // per-file fp sidecars as data (readKeyedDistributed: no driver
      // key collect, hit ordinals only come back) — and exactness comes
      // from the anti-join against the PRUNED scan: a delta-scaled
      // shuffle, never the pre-r17 O(corpus) full-fp scan. A distributed
      // BLOOM of the delta's fps (driver holds only the sketch) shrinks
      // the scan side SHUFFLE-FREE first — a kept file contributes all
      // its rows otherwise — and the anti-join's exact equality absorbs
      // the sketch's false positives.
      val (scan, skip) = TxnLake.readKeyedDistributed(s, table, "fp", deltaFps)
      lastFpSkipping = skip
      val sketch = graft.operators.BloomPrune.build(
        deltaFps.select(xxhash64(col("fp")).as("__h")), "__h",
        expectedItems = math.max(1L, nFps))
      val hot = scan.select("fp").where(
        graft.operators.BloomPrune.mightContain(sketch, xxhash64(col("fp"))))
      return sv.join(hot, Seq("fp"), "left_anti")
    }
    val keys = labeled(s, "curate:fp-collect") {
      deltaFps.collect().map(_.getString(0)).toSeq }
    val (scan, skip) = TxnLake.readKeyed(s, table, "fp", keys)
    lastFpSkipping = skip
    val matched = scan.select("fp")
      .join(broadcast(deltaFps), Seq("fp"), "left_semi")
    sv.join(broadcast(matched), Seq("fp"), "left_anti")
  }

  /** VERSION-COVERAGE index trust (the x40 model): a sibling index is
    * trusted iff the two logs prove it covers exactly the corpus table's
    * ROWS — which, unlike the pre-x40 "latest version == txn watermark"
    * arithmetic, survives in-log maintenance. Conditions:
    *
    *  1. the corpus carries a txn watermark `c` for this app, and the
    *     index's watermark under the index txn id equals `c` (every
    *     corpus batch has its increment — no mid-heal gap);
    *  2. EVERY corpus commit is either one of this app's batches with
    *     id ≤ `c` (its rows are in the index by 1) or a DATA-PRESERVING
    *     maintenance commit (`operation == "optimize"` — Z-order
    *     rewrites, bin-packed compaction; the log protocol's contract is
    *     that such commits change layout, never the row multiset, which
    *     is exactly the adjudication Delta makes from its own commit
    *     tags). A foreign append, overwrite, or restore anywhere fails
    *     classification — the index never saw those rows (under-masking);
    *  3. symmetrically every INDEX commit is one of this sink's
    *     increments (id ≤ `c`) or index-side maintenance — a foreign
    *     index append would inject spurious keys (over-masking).
    *
    * Classification walks [[graft.sources.TxnLake.commitInfo]] from the
    * persisted verified-through markers ([[covTxn]]/[[icovTxn]]), so the
    * steady-state per-batch cost is O(commits since the last verified
    * probe) — a handful of O(1) entry reads — no matter how long the
    * table has been compacting at cadence. Any failed condition drops
    * the probe to the recompute path, which reads the table directly and
    * is therefore always complete. */
  private def indexCovered(s: SparkSession, table: String, appId: String,
                           index: String, indexTxnId: String): Boolean = {
    val c = TxnLake.lastTxn(s, table, appId)
    val w = TxnLake.lastTxn(s, index, indexTxnId)
    if (c.isEmpty || w != c) return false
    val tableLatest = TxnLake.latestVersion(s, table)
    val indexLatest = TxnLake.latestVersion(s, index)
    if (tableLatest.isEmpty || indexLatest.isEmpty) return false
    def covered(tbl: String, ownApp: String, own: Long,
                from: Long, to: Long): Boolean =
      ((from + 1) to to).forall { v =>
        val e = TxnLake.commitInfo(s, tbl, v)
        e.dataPreserving ||
          e.txn.exists { case (a, b) => a == ownApp && b <= own }
      }
    val cov = TxnLake.lastTxn(s, index, covTxn(indexTxnId)).getOrElse(-1L)
    val icov = TxnLake.lastTxn(s, index, icovTxn(indexTxnId)).getOrElse(-1L)
    val ok = covered(table, appId, c.get, cov, tableLatest.get) &&
      covered(index, indexTxnId, w.get, icov, indexLatest.get)
    if (ok) verifiedCoverage((index, indexTxnId)) =
      (tableLatest.get, indexLatest.get)
    ok
  }

  /** d47 stage-1 + stage-2 over one micro-batch: scrub, gate, within-batch
    * survivor, committed-fp anti-join. Exposed for the batch mirror. */
  def curateBatch(batch: DataFrame, table: String, batchId: Long): DataFrame =
    antiJoinCommittedFps(gatedSurvivors(batch), table)
      .select(col("doc_id"), col("fp"), col("n_tokens"),
        lit(batchId).cast("int").as("ingest_batch"))

  /** d47 stage-3 at the streaming grain (x33): [[curateBatch]] plus an
    * INCREMENTAL NEAR-DUP gate — the batch's exact-dedup survivors probe
    * the MATERIALIZED [[bandIndexPath]] table through
    * [[graft.operators.MinHashDedup.incrementalMatchesIndexed]]
    * (delta-vs-index: the delta's band keys equi-join the committed band
    * index, corpus shingle sets rebuild only for candidate partners,
    * exact Jaccard verifies), and any document with a verified ≥
    * `threshold` match already in the table is dropped. The sink appends
    * each committed batch's band keys to the index exactly once; the
    * table's scrubbed `text` column remains the verification source and
    * the fallback index origin (mid-heal, before the first index commit
    * lands, the probe recomputes bands from it — identical semantics).
    * Within-batch near-dups are NOT collapsed (only exact ones): that is
    * `verifiedPairs`' batch job, and keeping the gates orthogonal keeps
    * each one's oracle exact.
    *
    * Scale: per batch the delta side is one day's volume; the corpus
    * side is one (band, bucket) keyed probe of the index plus
    * candidate-bounded shingle rebuilds — the probe cost scales with the
    * delta, never the corpus (the d29 adjudication, now with the corpus
    * never re-minhashed either). Idempotence is unchanged: the runner's
    * replay fast-path skips an already-committed batch before the probe
    * is even built (the probe materializes eagerly, so this matters for
    * cost), and the (appId, batchId) txn guard inside the commit remains
    * the correctness mechanism. */
  def curateBatchNearDup(batch: DataFrame, table: String, batchId: Long,
                         appId: String, threshold: Double = 0.7): DataFrame = {
    val s = batch.sparkSession
    val survivors = gatedSurvivors(batch)
    val committed =
      if (TxnLake.latestVersion(s, table).isDefined)
        Some(TxnLake.read(s, table))
      else None
    val deduped = committed match {
      case None => // first batch: nothing to collide with
        probePaths((table, batchId)) = "first"
        survivors
      case Some(tbl) =>
        val afterExact = antiJoinCommittedFps(survivors, table)
        // probe the MATERIALIZED band index while the version-coverage
        // model proves it covers the corpus' rows (one exactly-once
        // append per batch — delta-scaled probe, the corpus is never
        // re-minhashed); a coverage failure — mid-heal gap, foreign
        // writer, partial restore — falls back to the recompute shape,
        // identical semantics off the table itself. In-log maintenance
        // (optimize/compaction) classifies as data-preserving, so a
        // compacting table keeps its indexed probe (x40). The trusted
        // probe is SCAN-SCALED since x46: the index loads through the
        // bh-bloom-pruned readKeyed scan and streams against a broadcast
        // of the delta's bands (no index-side exchange), and candidate
        // text rebuilds load through a doc_id-pruned corpus scan — so at
        // a fixed delta the probe's I/O tracks true band collisions, not
        // corpus size.
        val bindex = bandIndexPath(table)
        val trusted = indexCovered(s, table, appId, bindex, bandIndexTxn(appId))
        probePaths((table, batchId)) = if (trusted) "indexed" else "recompute"
        val nearDupIds = (
          if (trusted)
            graft.operators.MinHashDedup.incrementalMatchesIndexedPruned(
              afterExact.select("doc_id", "text"),
              bhKeys => {
                val (scan, skip) = TxnLake.readKeyed(s, bindex, "bh", bhKeys)
                lastBandIndexSkipping = skip
                scan.select("doc_id", "b", "bh")
              },
              ids => {
                val (scan, skip) =
                  TxnLake.readKeyed(s, table, "doc_id", ids.map(_.toString))
                lastCorpusIdSkipping = skip
                scan.select("doc_id", "text")
              },
              indexFull = TxnLake.read(s, bindex).select("doc_id", "b", "bh"),
              corpusFull = tbl.select("doc_id", "text"),
              threshold = threshold,
              shouldPrune = n => pruneWorthwhile(s, bindex, n),
              // ABOVE-CAP loaders: the membership decision distributes
              // (sidecars as data on the executors), so a backfill-sized
              // delta still prunes the index/corpus scans instead of
              // falling back to the O(index) shuffle join
              indexForKeysDf = bhDf => {
                val (scan, skip) =
                  TxnLake.readKeyedDistributed(s, bindex, "bh", bhDf)
                lastBandIndexSkipping = skip
                scan.select("doc_id", "b", "bh")
              },
              corpusForIdsDf = idsDf => {
                val (scan, skip) =
                  TxnLake.readKeyedDistributed(s, table, "doc_id", idsDf)
                lastCorpusIdSkipping = skip
                scan.select("doc_id", "text")
              })
          else graft.operators.MinHashDedup
            .incrementalMatches(afterExact.select("doc_id", "text"),
              tbl.select("doc_id", "text"), threshold))
          .select(col("doc_a").as("doc_id")).distinct()
        afterExact.join(nearDupIds, Seq("doc_id"), "left_anti")
    }
    deduped.select(col("doc_id"), col("fp"), col("n_tokens"), col("text"),
      lit(batchId).cast("int").as("ingest_batch"))
  }

  /** INCREMENTAL exact-substring decontamination at the streaming grain
    * (x34) — the delta-vs-index counterpart of d53's union-suffix-array
    * batch job, the way a 100 TB corpus actually grows: a new crawl
    * snapshot is screened against the ALREADY-COMMITTED corpus without
    * re-ranking the union. [[curateBatch]]'s scrub → gate → exact-dedup →
    * committed-fp anti-join stages run unchanged; then every token of a
    * surviving batch document covered by a `window`-token span that
    * already occurs in the committed table is EXCISED (not the whole doc
    * dropped — the d41/d51/d53 cleaning doctrine), and the cleaned text
    * is what commits. Masking exactly-`window` shared windows covers
    * every shared span of length ≥ `window` (the d53 equivalence: any
    * covered position lies in some `window`-sub-window of its span, and
    * a sub-window of a shared span is shared), so the fixed-length gram
    * join is an EXACT arbitrary-length mask, with no suffix machinery
    * per batch.
    *
    * The committed corpus' window set comes from the MATERIALIZED
    * [[windowIndexPath]] table the x34 sink maintains (one exactly-once
    * append of the batch's own windows per commit) — so the probe is one
    * keyed semi-join whose build cost is the day's delta, and the corpus
    * text is never re-tokenized per batch; that index is linear in
    * corpus tokens, the structure a production pipeline carries
    * alongside the corpus (x33's band index gets the identical
    * treatment via [[bandIndexPath]]). Batch docs are
    * NOT decontaminated against each other (that is d51's
    * corpus-internal batch job; keeping the gates orthogonal keeps each
    * oracle exact).
    * The interval-union mask and rebuild are
    * [[graft.operators.SuffixArray.removeCoveredTokens]] — one linear
    * per-document window pass, shared verbatim with d51/d53. */
  def curateBatchDecontam(batch: DataFrame, table: String, batchId: Long,
                          appId: String, window: Int = DecontamWindow): DataFrame = {
    val s = batch.sparkSession
    val survivors = gatedSurvivors(batch)
    val committed =
      if (TxnLake.latestVersion(s, table).isDefined)
        Some(TxnLake.read(s, table))
      else None
    committed match {
      case None => // first batch founds the corpus: nothing to share with
        probePaths((table, batchId)) = "first"
        survivors.select(col("doc_id"), col("fp"), col("n_tokens"),
          lit(0).cast("int").as("n_removed"), col("text"),
          lit(batchId).cast("int").as("ingest_batch"))
      case Some(tbl) =>
        // pinned: the gate/canon/anti-join tier below feeds THREE
        // consumers of this plan (the window explode, the mask's token
        // positions, and the final join back), and the expectations
        // commit then evaluates the returned plan itself for both the
        // quarantine count and the target write (the Expectations
        // "persist expensive upstreams" contract — the same eager
        // materialization x33's incrementalMatches probe does)
        val afterExact = graft.plans.JobLabel.labeled(s,
            "decontam:pin-after-exact") {
          org.apache.spark.sql.GraftCheckpointShim
            .pinWithMeasuredStats(
              antiJoinCommittedFps(survivors, table)) }
        // committed window set — space-joined `window`-grams of the
        // committed corpus (injective for equality: tokens are \s+-split,
        // so the separator can't be confused with token content).
        // Primary source: the MATERIALIZED window index the x34 sink
        // maintains (one exactly-once append per committed batch), so the
        // probe never re-tokenizes the corpus — per-batch cost scales
        // with the delta plus one fp-keyed join against the index, the
        // 100 TB shape. Fallback (index version history diverges from
        // the corpus table's — mid-heal gap, foreign writer, partial
        // restore): recompute from the table's text, identical
        // semantics. The token array MUST be a materialized projection
        // before orderedGrams: passing the split() subtree as `toks`
        // makes every element_at re-run the regex split — 13 re-splits
        // per window, measured 20 s vs sub-second here.
        val windex = windowIndexPath(table)
        val trusted = indexCovered(s, table, appId, windex, windowIndexTxn(appId))
        probePaths((table, batchId)) = if (trusted) "indexed" else "recompute"
        // spread before the CPU-bound tokenize + gram explode + excision
        // (the width-adapted pin arrives at 1-2 partitions; no-op at
        // production batch sizes)
        val docsT = spreadForCpu(afterExact)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
        val grams = docsT
          .select(col("doc_id"),
            posexplode(orderedGrams(col("toks"), window)).as(Seq("__p0", "__g")))
        // at most one span per (doc_id, pos): gram positions are unique
        // and the SEMI join can't duplicate them (the index dedups per
        // batch, not globally — an inner join would mint one span per
        // duplicate index row)
        // Oversized-batch pre-check BEFORE any gram materialization: the
        // per-doc gram count is n_tokens - window + 1, already a column of
        // the pinned afterExact — one cheap aggregate bounds the distinct
        // gram population with no explode. A batch beyond the driver-key
        // bound (backfill/bootstrap) takes the pre-x46 lazy semi-join
        // against the full index: identical rows, no collect, and
        // crucially no checkpoint of a corpus-sized gram table.
        val estGrams =
          if (!trusted) 0L
          else graft.plans.JobLabel.labeled(s, "decontam:est-grams") {
            Option(afterExact.agg(
              sum(greatest(col("n_tokens") - (window - 1), lit(0))))
            .head().get(0)).map(_.asInstanceOf[Long]).getOrElse(0L) }
        val hits =
          if (trusted && pruneWorthwhile(s, windex, estGrams)) {
            // SCAN-SCALED probe (x47): collect the delta's distinct grams
            // (O(delta tokens) driver — a day's volume), load only the
            // index files whose __g Bloom sidecars might contain one,
            // stream those against a BROADCAST of the delta grams for the
            // (small) truly-shared set, and semi-join the delta's grams
            // against THAT broadcast. No index-side exchange; files read
            // tracks true shared windows, not corpus size.
            val gramsPinned = graft.plans.JobLabel.labeled(s,
                "decontam:pin-grams") {
              org.apache.spark.sql.GraftCheckpointShim
                .pinWithMeasuredStats(grams) }
            // the distinct gram set pins too: it feeds the driver-side key
            // collect AND the broadcast build — and an unpinned distinct
            // would put ITS shuffle inside the probe plan (the gate below
            // rightly refuses any exchange there)
            val deltaGrams = graft.plans.JobLabel.labeled(s,
                "decontam:pin-delta-grams") {
              org.apache.spark.sql.GraftCheckpointShim
                .pinWithMeasuredStats(
                  gramsPinned.select("__g").distinct()) }
            val keys = graft.plans.JobLabel.labeled(s,
              "decontam:gram-collect") {
              deltaGrams.collect().map(_.getString(0)).toSeq }
            val (scan, skip) = TxnLake.readKeyed(s, windex, "__g", keys)
            lastWindexSkipping = skip
            val hot = scan.select("__g")
              .join(broadcast(deltaGrams), Seq("__g"), "left_semi")
            lastDecontamProbeShuffleFree =
              graft.plans.PlanChecks.shuffleFree(hot)
            gramsPinned.join(broadcast(hot), Seq("__g"), "left_semi")
          } else if (trusted) {
            // ABOVE-CAP delta (backfill/bootstrap), index trusted: the
            // kept-file decision distributes — the delta's grams probe
            // the window index's __g sidecars as data on the executors
            // (readKeyedDistributed), so there is no driver gram
            // collect, and the index-side I/O still tracks true shared
            // windows instead of the pre-r17 full-index scan; exactness
            // is the delta-scaled semi-join against the pruned scan (so
            // the plan is not shuffle-free — the broadcast was the
            // cap'd luxury). Pin the delta's grams FIRST: the probe
            // re-evaluates its keys DF once per sidecar chunk, the
            // sketch build is another pass, and the final semi-join a
            // third — unpinned, each re-tokenizes and re-explodes the
            // whole delta in exactly the backfill-sized regime. The
            // checkpoint is DELTA-sized (one batch's grams), never
            // corpus-sized, so it stays within the batch budget.
            lastDecontamProbeShuffleFree = false
            val gramsPinned = org.apache.spark.sql.GraftCheckpointShim
              .pinWithMeasuredStats(grams)
            val (scan, skip) = TxnLake.readKeyedDistributed(
              s, windex, "__g", gramsPinned.select("__g"))
            lastWindexSkipping = skip
            // shrink the exactness shuffle's index side FIRST with a
            // distributed bloom of the delta's grams (one agg pass to
            // build, driver holds only the sketch, codegen might_contain
            // on the probe side — zero shuffle): a kept windex file
            // contributes ALL its grams otherwise, and at gram scale the
            // per-file sidecar FP tail keeps many files. Only sketch
            // survivors (truly-shared + ~2% FP) enter the semi-join,
            // whose exact equality absorbs the FP.
            val sketch = graft.operators.BloomPrune.build(
              gramsPinned.select(xxhash64(col("__g")).as("__h")), "__h",
              expectedItems = math.max(1L, estGrams))
            val hot = scan.select("__g").where(graft.operators.BloomPrune
              .mightContain(sketch, xxhash64(col("__g"))))
            gramsPinned.join(hot, Seq("__g"), "left_semi")
          } else {
            val hot = tbl
              .select(tokens(col("text")).as("__t"))
              .select(explode(orderedGrams(col("__t"), window)).as("__g"))
            grams.join(hot, Seq("__g"), "left_semi")
          }
        val spans = hits
          .select(col("doc_id"), (col("__p0") + 1).as("pos"),
            (col("__p0") + 1 + window).as("__end"))
        val cleaned = graft.operators.SuffixArray
          .removeCoveredTokens(docsT, spans)
        graft.plans.JobLabel.labeled(s, "decontam:pin-cleaned") {
          org.apache.spark.sql.GraftCheckpointShim.pinWithMeasuredStats(
            afterExact
            .join(cleaned.select(col("doc_id"), col("n_removed"),
              col("cleaned_text")), Seq("doc_id"))
            .select(col("doc_id"), col("fp"), col("n_tokens"),
              col("n_removed").cast("int").as("n_removed"),
              col("cleaned_text").as("text"),
              lit(batchId).cast("int").as("ingest_batch"))) }
    }
  }

  /** Sibling window-index table for `table`: one row per distinct
    * 13-window of each committed batch's text — the materialized index a
    * production decontamination pipeline maintains alongside the corpus
    * (linear in corpus tokens), so each batch's probe is one keyed join,
    * never a corpus re-tokenization. */
  def windowIndexPath(table: String): String = table + "_windex"

  /** Txn id the x34 sink commits window-index increments under — ONE
    * derivation shared by the sink wiring and the probe's
    * [[indexCovered]] watermark read (a drift here would silently pin
    * the probe to the recompute path forever). */
  def windowIndexTxn(appId: String): String = appId + "#windex"

  /** x33's band-index counterpart of [[windowIndexTxn]]. */
  def bandIndexTxn(appId: String): String = appId + "#bindex"

  /** Decontamination window length (GPT-3's 13-token eval-overlap
    * window, the d53 choice). ONE constant shared by the probe
    * ([[curateBatchDecontam]]'s default) and the index increments the
    * sink commits — if they diverged, the probe would semi-join k-grams
    * against an index of different-length grams: zero matches, every
    * batch committed uncleaned, and no error anywhere. */
  val DecontamWindow = 13

  /** The index increment for `batchId`: distinct `window`-token windows
    * of the rows `table` actually committed for that batch. Reading the
    * TABLE (not the curated batch plan) scopes the windows to
    * expectation-PASSING rows only — quarantined rows never index — and
    * makes the heal path below self-contained (it can rebuild the
    * increment from the log alone). */
  private def batchWindows(spark: SparkSession, table: String,
                           batchId: Long, window: Int): DataFrame =
    // readWhere, not read+filter: ingest_batch stats prune the scan to
    // the batch's own files (a 100 TB corpus reconciles an increment
    // from one batch's files, not a full-table scan), and the scan's
    // file-backed size estimate is what lets spreadForCpu size the gram
    // stage to the BATCH, not the table
    TxnLake.readWhere(spark, table, col("ingest_batch") === batchId)
      .select(tokens(col("text")).as("__t"))
      .select(explode(orderedGrams(col("__t"), window)).as("__g"))
      .distinct()

  /** [[runCuratedTwoWaveIngest]] with the incremental exact-substring
    * decontamination gate ([[curateBatchDecontam]]) — the x34 shape, same
    * exactly-once + checkpoint-loss-replay proof, PLUS the window-index
    * maintenance: each batch lands TWO exactly-once commits, the corpus
    * rows under (appId, batchId) and the batch's window increment under
    * (appId#windex, batchId). Corpus first — once the corpus txn is
    * present the batch's rows are final — then the index RECONCILES to
    * the corpus txn watermark: every increment the index log is missing
    * rebuilds from the table's own ingest_batch column. That watermark
    * scan (not a this-batch-only check) is what makes every interleaving
    * heal: a crash between the two commits retries into the index-only
    * path, a crash PLUS checkpoint loss re-delivers everything as batch 0
    * yet still back-fills the crashed batch's increment, and even a fully
    * lost index table rebuilds from the corpus on the next sink
    * invocation. */
  def runCuratedTwoWaveIngestDecontam(wave1Dir: String, wave2Dir: String,
                                      table: String, checkpointDir: String,
                                      appId: String, spark: SparkSession): Unit = {
    verifiedCoverage.remove((windowIndexPath(table), windowIndexTxn(appId)))
    clearProbeLog(table)
    runTwoWaveSink(wave1Dir, wave2Dir, checkpointDir, spark,
      indexedIngestSink(table, appId,
        windowIndexPath(table), windowIndexTxn(appId),
        curateBatchDecontam(_, _, _, appId),
        (s, b) => batchWindows(s, table, b, DecontamWindow),
        indexBloomCol = "__g"))()
  }

  /** BACKFILL ingest with the file-source rate limit — Spark's own
    * `maxFilesPerTrigger` is the ingest counterpart of
    * [[TxnReplicaFeed]]'s `maxFilesPerHop` (the r18 verdict's item 5):
    * instead of slicing commits under a sub-namespace, the SOURCE
    * slices the backlog into micro-batches of at most
    * `maxFilesPerTrigger` landed files, and every slice flows through
    * the SAME exactly-once indexed sink — corpus rows under
    * (appId, batchId), index increments reconciled to the corpus txn
    * watermark. Bounded memory falls out of the batch bound; convergent
    * resume falls out of machinery that already exists: a crash
    * mid-drain leaves the checkpoint at the first unapplied
    * micro-batch, the restart replays it against the (appId, batchId)
    * guard, and the watermark reconcile back-fills any increment the
    * crash orphaned. Duplicates that straddle slice boundaries are
    * caught by the committed-fingerprint anti-join (earlier slices are
    * COMMITTED corpus by the time later ones curate), so the curated
    * fp-set equals the unsliced run's — only the arbitrary-survivor
    * choice among intra-batch duplicates can differ, the engine's
    * documented dedup semantics (SURVEY §2.4 A4).
    *
    * `failAfterBatches` >= 0 injects a crash after that many applied
    * batches — the spec's mid-drain resume proof. */
  def runCuratedBackfillIngestDecontam(landingDir: String, table: String,
                                       checkpointDir: String, appId: String,
                                       spark: SparkSession,
                                       maxFilesPerTrigger: Int,
                                       failAfterBatches: Int = -1): Unit = {
    verifiedCoverage.remove((windowIndexPath(table), windowIndexTxn(appId)))
    clearProbeLog(table)
    runBackfill(landingDir, checkpointDir, spark, maxFilesPerTrigger,
      failAfterBatches)(
      indexedIngestSink(table, appId,
        windowIndexPath(table), windowIndexTxn(appId),
        curateBatchDecontam(_, _, _, appId),
        (s, b) => batchWindows(s, table, b, DecontamWindow),
        indexBloomCol = "__g"))
  }

  /** [[runCuratedBackfillIngestDecontam]]'s index-free sibling — the
    * x32 curator (scrub → gate → dedup, anti-joined against committed
    * fingerprints) over a rate-limited backfill drain. This is the
    * SQL-expressible shape the x70 oracle recomputes: the slice-order
    * survivor rule composes with the within-batch canon to GLOBAL
    * min-doc_id-per-fingerprint when slices land in ascending doc_id
    * order. */
  def runCuratedBackfillIngest(landingDir: String, table: String,
                               checkpointDir: String, appId: String,
                               spark: SparkSession,
                               maxFilesPerTrigger: Int,
                               failAfterBatches: Int = -1): Unit =
    runBackfill(landingDir, checkpointDir, spark, maxFilesPerTrigger,
      failAfterBatches) { (batch, batchId) =>
      if (!TxnLake.lastTxn(batch.sparkSession, table, appId)
            .exists(_ >= batchId)) {
        Expectations.commitOnceWithExpectations(
          batch.sparkSession, curateBatch(batch, table, batchId),
          table, "append", appId, batchId, IngestExpectations,
          bloomCols = CorpusBloomCols)
      }
      ()
    }

  /** The shared rate-limited drain: AvailableNow over the landing dir
    * with `maxFilesPerTrigger` as the slice bound, optional injected
    * crash after `failAfterBatches` applied batches (the mid-drain
    * resume proof's seam). */
  private def runBackfill(landingDir: String, checkpointDir: String,
                          spark: SparkSession, maxFilesPerTrigger: Int,
                          failAfterBatches: Int)
                         (sink: (DataFrame, Long) => Unit): Unit = {
    var applied = 0
    val guarded = (batch: DataFrame, batchId: Long) => {
      if (failAfterBatches >= 0 && applied >= failAfterBatches)
        throw new IllegalStateException(
          "CurationStream: injected mid-drain crash (test seam)")
      sink(batch, batchId)
      applied += 1
    }
    val q = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
      .writeStream.foreachBatch(guarded)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ONE definition of the indexed-ingest sink (x33/x34/x40 — they
    * differ only in index table, txn id, curator, increment builder,
    * and maintenance hook; a replay-guard or reconcile fix must hit all
    * at once). Commits the curated batch under (appId, batchId), runs
    * `maintain` after a batch that actually landed (x40's in-loop
    * OPTIMIZE; a replayed batch triggers NO maintenance), then
    * RECONCILES the sibling index to the corpus txn WATERMARK — not
    * just this batchId: a crash after the corpus commit combined with a
    * checkpoint loss re-delivers everything as batch 0, and a
    * "this-batch-only" check would skip the crashed batch's increment
    * forever (future probes would silently under-mask). Each missing
    * increment rebuilds from the table's own ingest_batch column —
    * corpus batch ids are the streaming batch sequence 0..C under this
    * appId, so the gap scan is exact. The corpus-commit fast-path also
    * spares a replayed batch the curator's eagerly-materializing probe
    * (a cost short-circuit; the txn guard inside the commit remains the
    * correctness mechanism).
    *
    * The first increment commit of the reconcile also persists the
    * coverage markers this batch's probe verified (consumed from
    * [[verifiedCoverage]], atomically with the increment via
    * `extraTxns`) — the scan bounds that keep [[indexCovered]] O(new
    * commits) per batch. */
  private def indexedIngestSink(table: String, appId: String,
                                indexPath: String, indexTxnId: String,
                                curate: (DataFrame, String, Long) => DataFrame,
                                increment: (SparkSession, Long) => DataFrame,
                                indexBloomCol: String,
                                maintain: SparkSession => Unit = _ => ())
      : (DataFrame, Long) => Unit = (batch, batchId) => {
    val s = batch.sparkSession
    if (!TxnLake.lastTxn(s, table, appId).exists(_ >= batchId)) {
      val committed = Expectations.commitOnceWithExpectations(
        s, curate(batch, table, batchId),
        table, "append", appId, batchId, IngestExpectations,
        bloomCols = CorpusBloomCols)
      if (committed.isDefined) maintain(s)
    }
    val c = TxnLake.lastTxn(s, table, appId).getOrElse(-1L)
    val w = TxnLake.lastTxn(s, indexPath, indexTxnId).getOrElse(-1L)
    // Attach the probe's verified-coverage tuple to the FIRST increment
    // commit that actually persists (not blindly i == 0: a replayed
    // increment returns None WITHOUT persisting extraTxns). If the whole
    // reconcile range is empty or every increment was a replay, re-insert
    // the tuple so the NEXT batch's sink can persist it — silently losing
    // it is never unsound (markers only bound the indexCovered scan) but
    // re-widens that scan to the older marker forever. putIfAbsent: never
    // clobber a fresher tuple a subsequent probe may have recorded.
    val marks = verifiedCoverage.remove((indexPath, indexTxnId))
    val extra = marks
      .map { case (tv, iv) =>
        Map(covTxn(indexTxnId) -> tv, icovTxn(indexTxnId) -> iv) }
      .getOrElse(Map.empty)
    var marksPersisted = marks.isEmpty
    ((w + 1) to c).foreach { b =>
      val committed = graft.plans.JobLabel.labeled(s, s"index:increment b$b") {
        // REBALANCE before the write (guide §6): the increment arrives at
        // the CPU-spread width (cores partitions for a KB-scale batch), so
        // an as-is append wrote one tiny parquet file + bloom sidecar per
        // core PER COMMIT — and every later probe pays per-file sidecar
        // reads and per-task write overhead. AQE sizes the rebalance by
        // advisoryPartitionSizeInBytes: one file for a micro-batch
        // increment, bytes/advisory for a backfill-scale one — the output
        // layout a production lake wants at any scale.
        TxnLake.commitOnce(s, increment(s, b).hint("rebalance"), indexPath,
          "append", indexTxnId, b,
          extraTxns = if (marksPersisted) Map.empty else extra,
          bloomCols = Seq(indexBloomCol))
      }
      if (committed.isDefined) marksPersisted = true
    }
    if (!marksPersisted)
      marks.foreach(verifiedCoverage.putIfAbsent((indexPath, indexTxnId), _))
    ()
  }

  /** Drive the curated ingest over TWO waves (each exactly one micro-batch
    * — files land between `processAllAvailable` barriers, and each wave's
    * landing is a single coalesced file), committing each batch through
    * the exactly-once expectations sink. */
  def runCuratedTwoWaveIngest(wave1Dir: String, wave2Dir: String,
                              table: String, checkpointDir: String,
                              appId: String, spark: SparkSession): Unit =
    runTwoWave(wave1Dir, wave2Dir, table, checkpointDir, appId, spark,
      curateBatch)

  /** Sibling LSH band-index table for `table`: one (doc_id, b, bh) row
    * per band key of each committed batch — x33's counterpart of
    * [[windowIndexPath]]. */
  def bandIndexPath(table: String): String = table + "_bindex"

  /** The band-index increment for `batchId`: band keys of the rows
    * `table` committed for that batch (expectation-passing rows only,
    * rebuildable from the log alone — the [[batchWindows]] doctrine). */
  private def batchBands(spark: SparkSession, table: String,
                         batchId: Long): DataFrame =
    // readWhere, not read+filter — see batchWindows
    graft.operators.MinHashDedup.bandIndex(
      TxnLake.readWhere(spark, table, col("ingest_batch") === batchId)
        .select("doc_id", "text"))

  /** [[runCuratedTwoWaveIngest]] with the incremental near-dup gate
    * ([[curateBatchNearDup]]) — the x33 shape, same exactly-once +
    * checkpoint-loss-replay proof, plus band-index maintenance under
    * (appId#bindex, batchId) with the same corpus-watermark
    * reconciliation as the x34 window index (every crash / replay /
    * index-loss interleaving heals from the table's own ingest_batch
    * column). */
  def runCuratedTwoWaveIngestNearDup(wave1Dir: String, wave2Dir: String,
                                     table: String, checkpointDir: String,
                                     appId: String, spark: SparkSession): Unit = {
    verifiedCoverage.remove((bandIndexPath(table), bandIndexTxn(appId)))
    clearProbeLog(table)
    runTwoWaveSink(wave1Dir, wave2Dir, checkpointDir, spark,
      indexedIngestSink(table, appId,
        bandIndexPath(table), bandIndexTxn(appId),
        curateBatchNearDup(_, _, _, appId),
        (s, b) => batchBands(s, table, b),
        indexBloomCol = "bh"))()
  }

  /** The x33 indexed near-dup ingest composed WITH continuous in-log
    * maintenance (x40) — the composition the pre-x40 trust model
    * deliberately excluded and a production table cannot avoid: every
    * committed micro-batch is followed by an OPTIMIZE of the corpus
    * (doc_id-range re-cluster, the x37 cadence), and the VERSION-COVERAGE
    * model ([[indexCovered]]) must keep the band index trusted across
    * the interleaved maintenance commits — the post-maintenance batch
    * must be served by the delta-vs-index PROBE path, never the
    * O(corpus) recompute (gated through [[probePaths]]). Exactly-once is
    * the x32/x37 doctrine: optimize entries carry the cumulative
    * (appId, batchId) map forward, so the checkpoint-loss replay is
    * absorbed by the log, and a replayed batch triggers no maintenance.
    * The per-batch whole-snapshot OPTIMIZE is the deliberate proof
    * fixture (maximum maintenance pressure per data commit);
    * [[graft.sources.TxnLake.compactSmallFiles]] /
    * [[graft.sources.TxnLake.optimizeWhere]] carry the production cost
    * model — the trust model is indifferent to WHICH data-preserving
    * command produced the commits. */
  def runCuratedTwoWaveIngestNearDupMaintained(
      wave1Dir: String, wave2Dir: String, table: String,
      checkpointDir: String, appId: String, spark: SparkSession,
      numFiles: Int = 2): Unit = {
    verifiedCoverage.remove((bandIndexPath(table), bandIndexTxn(appId)))
    clearProbeLog(table)
    runTwoWaveSink(wave1Dir, wave2Dir, checkpointDir, spark,
      indexedIngestSink(table, appId,
        bandIndexPath(table), bandIndexTxn(appId),
        curateBatchNearDup(_, _, _, appId),
        (s, b) => batchBands(s, table, b),
        indexBloomCol = "bh",
        maintain = s => {
          TxnLake.optimize(s, table, zorderBy = Seq("doc_id"),
            numFiles = numFiles)
          ()
        }))()
  }

  /** [[runCuratedTwoWaveIngest]] with CONTINUOUS LAKE MAINTENANCE (x37):
    * after each batch that actually lands, the sink runs
    * [[graft.sources.TxnLake.optimize]] on the corpus table — a
    * WHOLE-SNAPSHOT re-cluster per batch, deliberately: this runner is
    * the exactly-once-under-maximum-maintenance-pressure proof, paying
    * O(table) rewrite per micro-batch to interleave the heaviest
    * possible maintenance commit after every data commit. At production
    * cadence that cost model is wrong — a deployment runs
    * [[graft.sources.TxnLake.compactSmallFiles]] (O(small-file debt)) or
    * [[graft.sources.TxnLake.optimizeWhere]] (O(scoped bytes)) between
    * batches and reserves the full re-cluster for scheduled windows; the
    * exactly-once invariants proven here are identical for all three,
    * since each is one data-preserving "optimize" log commit. What must
    * survive the interleaving: exactly-once holds because every optimize
    * entry carries the cumulative (appId, batchId) txn map forward, so
    * the checkpoint-loss replay still sees its batches in the log;
    * readers are isolated because optimize is one data-preserving
    * snapshot swap. A replayed (skipped) batch triggers NO maintenance —
    * compaction happens exactly as often as data actually lands. */
  def runCuratedTwoWaveIngestCompacting(wave1Dir: String, wave2Dir: String,
                                        table: String, checkpointDir: String,
                                        appId: String, spark: SparkSession,
                                        numFiles: Int = 2): Unit = {
    val sink = (batch: DataFrame, batchId: Long) => {
      val s = batch.sparkSession
      if (!TxnLake.lastTxn(s, table, appId).exists(_ >= batchId)) {
        val committed = Expectations.commitOnceWithExpectations(
          s, curateBatch(batch, table, batchId),
          table, "append", appId, batchId, IngestExpectations,
          bloomCols = CorpusBloomCols)
        if (committed.isDefined) {
          TxnLake.optimize(s, table, zorderBy = Seq("doc_id"),
            numFiles = numFiles)
          ()
        }
      }
      ()
    }
    runTwoWaveSink(wave1Dir, wave2Dir, checkpointDir, spark, sink)()
  }

  /** [[runCuratedTwoWaveIngestCompacting]] with the PRODUCTION cost model
    * in the loop (x43): after each landed batch the sink runs
    * [[graft.sources.TxnLake.compactSmallFiles]] — pack only the
    * sub-threshold small-file debt, carry every already-packed file over
    * with its physical path VERBATIM — instead of x37's deliberate
    * whole-snapshot re-cluster. The first batch's compaction packs its
    * own small appends into one file and every later compaction packs
    * ONLY the new batch's debt around it: maintenance cost is O(day's
    * small files) at any table size, the cadence command a 100 TB
    * deployment actually schedules. Appends land `repartition(2)` so
    * every batch provably
    * accrues debt (AQE would otherwise coalesce a small batch into one
    * file and the no-op guard would skip the maintenance this runner
    * exists to exercise). Exactly-once is x37's doctrine unchanged —
    * compaction commits carry the cumulative txn map, a replayed batch
    * triggers NO maintenance. The pack set is PROVENANCE-scoped
    * (`compactSmallFiles(within = the files this batch just landed)`),
    * not size-thresholded: a size heuristic flips which files it packs
    * the moment a batch's append rivals the packed history's size, while
    * provenance packs exactly the new debt at any size distribution. */
  def runCuratedTwoWaveIngestCompactingIncremental(
      wave1Dir: String, wave2Dir: String, table: String,
      checkpointDir: String, appId: String, spark: SparkSession): Unit = {
    val sink = (batch: DataFrame, batchId: Long) => {
      val s = batch.sparkSession
      if (!TxnLake.lastTxn(s, table, appId).exists(_ >= batchId)) {
        val before = TxnLake.snapshotFiles(s, table).map(_.path).toSet
        val committed = Expectations.commitOnceWithExpectations(
          s, curateBatch(batch, table, batchId).repartition(2),
          table, "append", appId, batchId, IngestExpectations,
          bloomCols = CorpusBloomCols)
        if (committed.isDefined) {
          val landed = TxnLake.snapshotFiles(s, table).map(_.path).toSet -- before
          TxnLake.compactSmallFiles(s, table, minFileBytes = Long.MaxValue,
            within = Some(landed))
          ()
        }
      }
      ()
    }
    runTwoWaveSink(wave1Dir, wave2Dir, checkpointDir, spark, sink)()
  }

  /** The x34 indexed decontamination ingest composed WITH continuous
    * in-log maintenance (x42) — [[runCuratedTwoWaveIngestNearDupMaintained]]'s
    * proof for the OTHER sibling-index type: the `_windex` window index
    * must stay trusted across interleaved optimize commits, so the
    * post-maintenance batch's mask probes the materialized index rather
    * than re-tokenizing the corpus. Identical trust machinery
    * ([[indexCovered]] + markers) — registering both compositions pins
    * that the model is index-type-agnostic. */
  def runCuratedTwoWaveIngestDecontamMaintained(
      wave1Dir: String, wave2Dir: String, table: String,
      checkpointDir: String, appId: String, spark: SparkSession,
      numFiles: Int = 2): Unit = {
    verifiedCoverage.remove((windowIndexPath(table), windowIndexTxn(appId)))
    clearProbeLog(table)
    runTwoWaveSink(wave1Dir, wave2Dir, checkpointDir, spark,
      indexedIngestSink(table, appId,
        windowIndexPath(table), windowIndexTxn(appId),
        curateBatchDecontam(_, _, _, appId),
        (s, b) => batchWindows(s, table, b, DecontamWindow),
        indexBloomCol = "__g",
        maintain = s => {
          TxnLake.optimize(s, table, zorderBy = Seq("doc_id"),
            numFiles = numFiles)
          ()
        }))()
  }

  private def runTwoWave(wave1Dir: String, wave2Dir: String,
                         table: String, checkpointDir: String,
                         appId: String, spark: SparkSession,
                         curate: (DataFrame, String, Long) => DataFrame): Unit = {
    // ONE sink definition serves both the primary ingest and the replay —
    // the replay must exercise the exact sink whose idempotence it proves.
    // (Only curateBatch/x32 routes through here now; the index-maintaining
    // gates use indexedIngestSink.)
    val sink = (batch: DataFrame, batchId: Long) => {
      // Replay fast-path: a batch already in the table log must not even
      // BUILD the curation gate. commitOnceWithExpectations re-checks
      // under the same (appId, batchId) txn, so this is a cost
      // short-circuit, not the correctness mechanism.
      if (!TxnLake.lastTxn(batch.sparkSession, table, appId)
            .exists(_ >= batchId)) {
        Expectations.commitOnceWithExpectations(
          batch.sparkSession, curate(batch, table, batchId),
          table, "append", appId, batchId, IngestExpectations,
          bloomCols = CorpusBloomCols)
      }
      ()
    }
    runTwoWaveSink(wave1Dir, wave2Dir, checkpointDir, spark, sink)()
  }

  /** The two-wave driver itself: land wave 1, micro-batch it, land wave 2,
    * micro-batch it, then re-deliver EVERYTHING under a fresh checkpoint
    * (the checkpoint-loss replay — exactly-once must come from the table
    * log, not streaming state). `sink` owns all commit semantics;
    * `readSource` builds the streaming read for the landing dir (defaults
    * to the document schema; [[VectorStream]] passes its own). */
  private[streaming] def runTwoWaveSink(wave1Dir: String, wave2Dir: String,
                             checkpointDir: String, spark: SparkSession,
                             sink: (DataFrame, Long) => Unit)
                            (readSource: String => DataFrame =
                               readDocs(spark, _)): Unit = {
    val source = readSource
    val scratch = java.nio.file.Files.createTempDirectory("graft_cur_ingest")
    // Copy to a non-.parquet temp name, then ATOMIC_MOVE into place: the
    // running FileStreamSource polls the scratch dir continuously and
    // dedups by path, so a listing that caught a half-copied .parquet
    // would pin the partial file forever.
    def land(src: String, prefix: String): Unit = {
      val dir = java.nio.file.Paths.get(src)
      val stream = java.nio.file.Files.list(dir)
      try {
        val files = stream.iterator()
        var i = 0
        while (files.hasNext) {
          val f = files.next()
          if (f.getFileName.toString.endsWith(".parquet")) {
            val tmp = scratch.resolve(s"${prefix}_$i.inflight")
            java.nio.file.Files.copy(f, tmp)
            java.nio.file.Files.move(tmp,
              scratch.resolve(s"${prefix}_$i.parquet"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            i += 1
          }
        }
      } finally stream.close()
    }
    try {
      land(wave1Dir, "w1")
      val q = source(scratch.toString).writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", checkpointDir)
        .start()
      q.processAllAvailable() // wave 1 = batch 0
      land(wave2Dir, "w2")
      q.processAllAvailable() // wave 2 = batch 1, deduped against the table
      q.stop()
      // CHECKPOINT-LOSS replay: a fresh checkpoint re-delivers everything
      // as batch 0; the (appId, 0) txn is already in the table log, so the
      // exactly-once guarantee must come from the LOG, not the checkpoint.
      val q2 = source(scratch.toString).writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", s"${checkpointDir}_replay")
        .trigger(Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    } finally scala.util.Try(
      org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile))
  }
}
