package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Training-data curation operators beyond near-dup detection: PII
  * redaction, benchmark-contamination checks, and token-budget shard
  * packing. Like the rest of the text layer these are pure projections
  * / bounded joins — no UDFs, no driver loops — so they compose into
  * the same one-pass curation pipelines at corpus scale.
  */
object Curation {

  /** Regex redaction of the classic PII surface forms — emails, NANP-ish
    * phone numbers, IPv4 addresses — each replaced by a stable tag
    * token. Patterns deliberately stay in the RE2-compatible subset (no
    * lookaround, no backrefs) so the same pattern text runs identically
    * under Java regex (Spark codegen) and RE2-based engines, and the
    * operator remains a plain codegen'd projection.
    *
    * Order matters and is fixed: emails first (an email contains no
    * phone/IP match inside once replaced), then phones, then IPs.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Pattern  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailPattern, "<EMAIL>")
    val p = regexp_replace(e, PhonePattern, "<PHONE>")
    regexp_replace(p, Ipv4Pattern, "<IP>")
  }

  /** Benchmark-contamination check: which corpus documents share at
    * least `minShared` distinct word k-shingles with a benchmark probe
    * document (n-gram-overlap contamination, the decontamination test of
    * GPT-3/C4-style pipelines). Returns (docIdCol, probe_id, n_shared).
    *
    * Plan shape: both sides explode to DISTINCT (id, shingle-hash) rows
    * through the native `shingle_hashes` kernel (graft.plans.ShingleText
    * — the HOF shingle expression evaluates interpreted and cost ~26 s
    * for 5000 docs at sf0.1; the kernel is sub-second, and 8-byte hash
    * keys replace shingle strings in every exchange). The join is a
    * hash-keyed equi join with the PROBE side broadcast — benchmark
    * suites are bounded by contract (thousands of items, not
    * corpus-sized), which is what makes this safe at 100 TB: the corpus
    * side streams through map-side hash lookups, no shuffle of corpus
    * shingles at all. The aggregate that counts shared shingles is then
    * a hash agg on (doc, probe) — bounded by actual contamination hits.
    */
  def contaminationCheck(
      docs: DataFrame,
      probes: DataFrame,
      k: Int = 3,
      minShared: Int = 5,
      docIdCol: String = "doc_id",
      probeIdCol: String = "probe_id",
      textCol: String = "text",
  ): DataFrame = {
    def shingleRows(df: DataFrame, idCol: String, outId: String) =
      df.select(col(idCol).as(outId),
        explode(call_function("shingle_hashes", col(textCol), lit(k))).as("_sh"))
    val d = shingleRows(docs, docIdCol, docIdCol)
    val p = shingleRows(probes, probeIdCol, probeIdCol)
    d.join(broadcast(p), Seq("_sh"))
      .groupBy(docIdCol, probeIdCol)
      .agg(count(lit(1)).cast(LongType).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** The act half of the contamination check: drop every document
    * [[contaminationCheck]] flags against ANY probe. The flagged-id set
    * is slim (ids only) and benchmark-bounded, so the left-anti join
    * broadcasts at the common operating point; the corpus itself never
    * shuffles — same contract as candidate generation.
    */
  def decontaminate(
      docs: DataFrame,
      probes: DataFrame,
      k: Int = 3,
      minShared: Int = 5,
      docIdCol: String = "doc_id",
      probeIdCol: String = "probe_id",
      textCol: String = "text",
  ): DataFrame = {
    val flagged = contaminationCheck(docs, probes, k, minShared, docIdCol, probeIdCol, textCol)
      .select(docIdCol).distinct()
    docs.join(flagged, Seq(docIdCol), "left_anti")
  }

  /** Deterministic hash sampling: keep a row iff the md5 of its key,
    * read as a fixed-width hex prefix, falls below `fraction` of the
    * hash space. No RNG, no seed state: the decision is a pure function
    * of the key, so the sample is identical across executors, retries,
    * partial re-runs, and engines (md5 of the decimal string is
    * portable) — the property that matters when a 100 TB sample must be
    * reproducible and auditable. Selectivity error vs `fraction` is
    * ±2^-32 (8 hex digits).
    */
  def hashSampleThreshold(fraction: Double): String = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    f"${math.floor(fraction * 4294967296.0).toLong min 0xFFFFFFFFL}%08x"
  }

  def hashSamplePredicate(key: Column, fraction: Double): Column =
    if (fraction >= 1.0) lit(true) // 'ffffffff' prefix must not be dropped at rate 1
    else substring(md5(key.cast("string").cast("binary")), 1, 8) < lit(hashSampleThreshold(fraction))

  def hashSample(df: DataFrame, fraction: Double, keyCol: String = "doc_id"): DataFrame =
    df.where(hashSamplePredicate(col(keyCol), fraction))

  /** Deterministic train/val/test assignment: every row gets exactly one
    * split label from the cumulative-threshold partition of the same
    * engine-portable md5-prefix space [[hashSample]] uses — key-stable
    * (a document keeps its split across corpus versions and engines, the
    * property that prevents train/eval leakage when data is re-curated),
    * shuffle-free, and exhaustive (the last split is the CASE fallback,
    * so threshold rounding can never drop a row).
    */
  def assignSplit(
      df: DataFrame,
      splits: Seq[(String, Double)],
      keyCol: String = "doc_id",
      out: String = "split",
  ): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.forall(_._2 > 0), s"split fractions must be positive: $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val h = substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8)
    // cumulative fractions in DECIMAL: double accumulation (0.7 + 0.2 =
    // 0.8999999999999999) can floor into a different hash bucket than
    // hashSampleThreshold(0.9) when the product lands near an integer
    // boundary — which would break the documented same-hash-space
    // nesting with hashSample for boundary keys
    val cum = splits.map(s => BigDecimal.valueOf(s._2))
      .scanLeft(BigDecimal(0))(_ + _).tail.map(_.toDouble)
    val label = splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cumF), acc) => when(h < lit(hashSampleThreshold(cumF)), lit(name)).otherwise(acc)
    }
    df.withColumn(out, label)
  }

  /** Deterministic stratified bottom-k sampling: the k rows of each
    * stratum whose md5-prefix hash sorts lowest (key tie-break). This is
    * the EXACT-COUNT sibling of [[hashSample]]: a rate-based sample
    * yields Binomial(n, f) rows per stratum, but eval sets, per-source
    * quotas, and human-review batches need exactly k — and the bottom-k
    * of a uniform hash space IS a uniform k-subset, still seedless,
    * key-stable and engine-replayable.
    *
    * Scale shape: `row_number` over (stratum → hash) with the `<= k`
    * filter directly on it — Spark rewrites that pattern to a
    * WindowGroupLimit: every map task keeps only its local top-k per
    * stratum BEFORE the exchange, so the shuffle moves O(strata · k ·
    * tasks) rows, not the corpus, and no stratum is ever globally
    * sorted. (A stratum skewed to billions of rows still ships only k
    * rows per upstream task.) `sample_rank` is exported so consumers
    * can take nested prefixes (rank ≤ j, j < k) that stay consistent
    * across corpus versions — the same nesting property assignSplit
    * guarantees for fractions.
    */
  def stratifiedSample(
      df: DataFrame,
      k: Int,
      strataCol: String = "source",
      keyCol: String = "doc_id",
      out: String = "sample_rank",
  ): DataFrame = {
    require(k >= 1, s"sample size must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val h = substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8)
    val w = Window.partitionBy(strataCol).orderBy(h.asc, col(keyCol).asc)
    df.withColumn(out, row_number().over(w)).where(col(out) <= k)
  }

  /** Source-weighted data mixing: per-source deterministic sampling
    * rates (the "data mixture" step of a training pipeline — e.g. keep
    * 100% of wiki, 30% of web). A source absent from `rates` is dropped
    * (rate 0). One codegen'd CASE over [[hashSamplePredicate]]: no
    * shuffle, no RNG, same reproducibility contract as [[hashSample]].
    */
  def mixSources(
      df: DataFrame,
      rates: Map[String, Double],
      sourceCol: String = "source",
      keyCol: String = "doc_id",
  ): DataFrame = {
    val pred = rates.foldLeft(lit(false)) { case (acc, (src, rate)) =>
      when(col(sourceCol) === lit(src), hashSamplePredicate(col(keyCol), rate)).otherwise(acc)
    }
    df.where(pred)
  }

  /** Token-budget shard packing: within each `stratumCol` group, walk
    * documents in `orderCol` order and assign each to training shard
    * `floor(exclusive-prefix-token-sum / budget)` — the greedy
    * sequential packing used to build fixed-budget training shards.
    * Returns the input plus (n_tokens, shard).
    *
    * One window (sum over rows unbounded-preceding) per stratum: the
    * shuffle is by stratum key and the sort is within partitions.
    * Packing is deliberately PER-STRATUM — a single global ordering
    * would funnel the whole corpus through one partition's sort, so at
    * scale the stratum (source, language, date-bucket…) IS the
    * parallelism unit, exactly how shard builders operate.
    */
  def packShards(
      df: DataFrame,
      budget: Long,
      stratumCol: String = "source",
      orderCol: String = "doc_id",
      textCol: String = "text",
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    val win = Window.partitionBy(stratumCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", TextOps.tokenCount(col(textCol)).cast(LongType))
      .withColumn("shard",
        floor((sum(col("n_tokens")).over(win) - col("n_tokens")) / lit(budget))
          .cast(IntegerType))
  }

  /** Context-window chunking: split each document into token windows of
    * `chunkTokens` starting every `stride` tokens (stride < chunkTokens
    * ⇒ overlapping windows; stride == chunkTokens ⇒ disjoint packing) —
    * the standard pre-training step that turns variable-length documents
    * into model-context-sized pieces. Chunk text is the space-joined
    * token window; tail windows may be short. Empty documents yield no
    * chunks.
    *
    * Scale shape: token pos p joins chunk c iff c·stride ≤ p <
    * c·stride+chunkTokens, emitted by exploding the (tiny, ≤
    * ⌈chunkTokens/stride⌉-element) per-token chunk-id sequence — pure
    * integer arithmetic, no self-join — then ONE map-combined hash
    * aggregation on (doc, chunk). The per-chunk token sort happens
    * inside the aggregated array (bounded by chunkTokens), not as a
    * partition sort. The transform lambda runs once per CHUNK on a
    * ≤ chunkTokens array — cold path, not the per-row hot loop the
    * codegen rule in TextOps.tokens guards.
    */
  def chunkDocuments(
      df: DataFrame,
      chunkTokens: Int,
      stride: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
  ): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunkTokens=$chunkTokens")
    // no scatter here: the posexplode feeds a (doc, chunk) hash
    // aggregation that redistributes anyway, and per-token work is one
    // integer-sequence explode — the r18 scatter did not reproduce its
    // same-session win in the clean artifact (0.60→0.70s) and the r19
    // min-of-5 A/B confirmed the revert (commit 8c4e126)
    val tokRows = df.select(col(idCol),
      posexplode(TextOps.tokens(coalesce(col(textCol), lit("")))).as(Seq("_p", "_t")))
    // first/last chunk containing pos p (int arithmetic, lo clamped):
    // lo = ceil((p - chunkTokens + 1) / stride), hi = floor(p / stride)
    val lo = greatest(lit(0),
      floor((col("_p") - lit(chunkTokens) + lit(stride)).cast(DoubleType) / lit(stride)).cast(IntegerType))
    val hi = floor(col("_p").cast(DoubleType) / lit(stride)).cast(IntegerType)
    tokRows
      .select(col(idCol), col("_p"), col("_t"),
        explode(sequence(lo, hi)).as("chunk_id"))
      .groupBy(idCol, "chunk_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_tokens"),
        array_sort(collect_list(struct(col("_p"), col("_t")))).as("_sorted"))
      // GetArrayStructFields, not transform(...): the lambda evaluates
      // interpreted; the field pull over the sorted array stays codegen'd
      .select(col(idCol), col("chunk_id"), col("n_tokens"),
        concat_ws(" ", col("_sorted").getField("_t")).as("chunk_text"))
  }
}
