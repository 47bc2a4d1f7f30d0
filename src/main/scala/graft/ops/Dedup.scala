package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** Deduplication operators (north star #1) as DataFrame transformers.
  * Every variant follows the same 100 TB shape: one narrow projection
  * pass to a compact key (hash / signature / band bucket), then a
  * key-grouped shuffle of keys only — the corpus itself is never
  * re-shuffled or pairwise-joined.
  *
  * Hot-bucket guard: every banded self-join degrades (band, key) buckets
  * larger than `maxBucket` from all-pairs to STAR pairs around the
  * bucket's min-id row. An adversarial corpus (millions of boilerplate
  * near-copies) floods one bucket; all-pairs there is O(cnt²), while the
  * star is O(cnt) and still connects every member to the representative —
  * so cluster formation ([[clusterPairs]]) merges the flood into one
  * group exactly as the quadratic form would, and verification stays
  * bounded. What the star gives up: pairs between two NON-representative
  * members of a hot bucket that match nothing else (for true duplicate
  * floods they all verify against the representative anyway).
  *
  * Cache lifecycle: the banded/pair operators ([[minhashCandidates]],
  * [[simhashNearDups]], [[jaccardVerify]], [[cosineNearDups]]) persist
  * compact intermediate frames (band keys / id pairs / id+vector+bucket
  * scalars — never corpus text) so a multi-consumer pipeline evaluates
  * each signature once. Those entries live in the
  * session cache manager until released: a long-lived session that runs
  * many dedup pipelines should call `spark.catalog.clearCache()` between
  * them (or unpersist the returned frame's cached ancestors via
  * `spark.sharedState.cacheManager`). [[clusterPairs]] manages its own
  * round caches and frees them as rounds supersede; only its RESULT
  * frame stays persisted, and its doc tells callers to unpersist it.
  */
object Dedup {

  /** Buckets above this row count degrade from all-pairs to star pairs.
    * 4096 caps the worst per-bucket join at ~8M comparisons while sitting
    * far above any bucket a non-degenerate corpus produces (a bucket is
    * one band-signature collision group, ~n/2^16 for the simhash bands). */
  val DefaultMaxBucket: Int = 4096

  /** Exact dedup on chosen columns: keeps the min-`idCol` row per group.
    * (hash-groupBy; at scale this is a single shuffle of md5 keys).
    *
    * Key encoding is collision-free by construction: each column
    * contributes a fixed-width token -- a 1-char null flag plus the md5
    * of its string form -- so no value string can collide with a NULL
    * sentinel, and no embedded separator byte can make two distinct
    * column tuples concatenate identically (in-band sentinels would
    * conflate a genuine value equal to the sentinel with NULL and drop
    * a non-duplicate row). */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame = {
    val keepers = df.groupBy(dupKey(cols).as("__dupkey"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
    df.join(keepers.select(col(idCol), col("n_copies")), Seq(idCol), "inner")
  }

  /** The collision-free multi-column key [[exact]] documents: a
    * fixed-width (null-flag, md5) token per column, md5'd together. */
  private def dupKey(cols: Seq[String]): Column =
    md5(concat(cols.flatMap(c => Seq(
      when(col(c).isNull, lit("0")).otherwise(lit("1")),
      md5(coalesce(col(c).cast("string"), lit(""))))): _*))

  /** EXACT incremental match: ids of `newDf` rows whose key columns
    * equal those of ANY reference row (NULLs match NULLs, per the
    * [[exact]] key encoding) — the daily-ingest twin of [[exact]], and
    * the blocking-key step of record linkage when `cols` is a coarse
    * key. A left-semi join on the md5 key: only keys shuffle, never
    * payloads.
    *
    * 100 TB shape: Spark's runtime bloom-filter optimization (on by
    * default, `spark.sql.optimizer.runtime.bloomFilter.*`) builds a
    * bloom filter over the reference keys and pushes it into the new
    * batch's scan, so the shuffle carries roughly the matching fraction
    * instead of the whole batch — PlanSpec pins that the semi-join
    * shape stays eligible for the injection. */
  def exactMatchesAgainst(newDf: DataFrame, refDf: DataFrame,
      idCol: String, cols: Seq[String]): DataFrame = {
    val k = dupKey(cols)
    newDf.select(col(idCol), k.as("__k"))
      .join(refDf.select(k.as("__k")), Seq("__k"), "left_semi")
      .select(col(idCol))
  }

  /** STREAMING exact filter against a reference corpus: pass through
    * only the docs of a micro-batch stream whose key columns equal NO
    * reference row's (the [[exactMatchesAgainst]] verdict, inverted and
    * per-row) — the exact-match cell of the streaming filter family
    * ([[minhashCleanStream]] / [[simhashCleanStream]] /
    * [[cosineCleanStream]]). ONE stream-static LEFT ANTI equi-join on
    * the md5 [[dupKey]]: per-row keying is a stateless codegen'd
    * projection, so no watermark or aggregation is needed and every doc
    * keeps all its columns. Only keys are compared, never payloads; at
    * scale, pre-compute the reference keys once
    * (`refDf.select(...)` cached or persisted) rather than re-deriving
    * them from raw reference text every trigger. */
  def exactCleanStream(newStream: DataFrame, refDf: DataFrame,
      cols: Seq[String]): DataFrame = {
    requireNoReservedCols(newStream, Seq("__k"), "exactCleanStream")
    val k = dupKey(cols)
    newStream.withColumn("__k", k)
      .join(refDf.select(k.as("__k")), Seq("__k"), "left_anti")
      .drop("__k")
  }

  /** The streaming filters derive scratch columns on the stream frame;
    * a pre-existing input column with a reserved name would be silently
    * REPLACED by withColumn and then dropped on the way out — the
    * output would lose a data column with no error, contradicting the
    * "every doc keeps all its columns" contract. Fail loudly at
    * definition instead. */
  private def requireNoReservedCols(df: DataFrame, reserved: Seq[String],
      what: String): Unit = {
    val clash = df.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"$what: input already has column(s) ${clash.mkString(", ")} — " +
        "these names are reserved scratch columns here; rename them " +
        "first (they would be silently overwritten and dropped)")
  }

  /** Case/punctuation/whitespace-insensitive dedup key: lowercase, fold
    * every non-[a-z0-9 ] char to a space, collapse runs, trim. Real
    * corpora duplicate up to this jitter (trailing punctuation, smart
    * quotes, double spaces) — normalize the KEY, keep the original text.
    * Codegen'd per-row projection; the regexes stay in the character-
    * class subset where Java's engine and RE2 agree byte-for-byte. */
  def normalizeForDedup(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** MinHash near-dup candidate pairs over a text column via banded LSH.
    * Returns (id1, id2) candidates; follow with `jaccardVerify` to filter
    * to true near-dups.
    *
    * `numHashes` is the signature width (8 = the oracle-checked default;
    * 128 = the typical production width — more hashes sharpen the
    * banding S-curve, so recall at the target jaccard rises while chance
    * collisions fall). `bands` must tile the signature exactly or hashes
    * would be silently dropped / buckets degenerate to a single empty
    * string = full O(n²) cross-product.
    *
    * The banded frame is persisted (it feeds both join sides plus the
    * hot-bucket star branch), so each doc's signature is computed ONCE;
    * the cache is a compact (id, band, bucket) projection — never text.
    * Buckets above `maxBucket` emit star pairs (see object doc). */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String, bands: Int = 4,
      numHashes: Int = 8, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must tile the $numHashes-hash signature exactly, got $bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val w = Window.partitionBy("__band", "__bucket")
    val marked = banded(df, idCol, textCol, bands, numHashes)
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__rep", min(col("__id")).over(w))
      .persist(MEMORY_AND_DISK)
    val small = marked.filter(col("__cnt") <= maxBucket)
    val l = small.as("l"); val r = small.as("r")
    val allPairs = l.join(r, col("l.__band") === col("r.__band")
        && col("l.__bucket") === col("r.__bucket")
        && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id1"), col("r.__id").as("id2"))
    val hotStar = marked
      .filter(col("__cnt") > maxBucket && col("__id") =!= col("__rep"))
      .select(col("__rep").as("id1"), col("__id").as("id2"))
    allPairs.union(hotStar).distinct()
  }

  /** Incremental (asymmetric) MinHash candidates: match a NEW batch
    * against an existing REFERENCE corpus — the daily-ingest shape, where
    * the reference side's signatures are computed once (or read from a
    * signature table) and each incoming batch only hashes itself. Returns
    * (new_id, ref_id) pairs sharing any band; no id ordering constraint
    * (the sides are distinct corpora). Same banding, sentinel, and width
    * rules as [[minhashCandidates]].
    *
    * Hot-bucket guard (asymmetric): the REFERENCE side keeps only its
    * `maxBucket` lowest-id rows per (band, bucket) — a boilerplate flood
    * in the reference otherwise multiplies every matching new doc by the
    * whole flood. Each new doc still meets up to `maxBucket` reference
    * members per band, so its duplicate-or-not decision survives (any
    * retained member of a true-dup flood matches); the NEW side is never
    * capped — every incoming doc must get its dedup verdict. */
  def minhashCandidatesAgainst(
      newDf: DataFrame, refDf: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, numHashes: Int = 8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireBandWidths(bands, numHashes)
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    candidatesAgainstBanded(
      banded(newDf, idCol, textCol, bands, numHashes),
      banded(refDf, idCol, textCol, bands, numHashes),
      maxBucket)
  }

  /** Persist a corpus's banded MinHash signatures as an (id, band,
    * bucket) parquet table — the index-build step of the incremental
    * path (the [[graft.ops.Similarity.pqEncode]] pattern for text): a
    * production pipeline shingles + hashes the reference corpus ONCE,
    * then each daily batch joins [[minhashCandidatesAgainstBands]]
    * against the table and never re-reads the reference TEXT. Same
    * banding, sentinel, and width rules as [[minhashCandidates]]. */
  def writeBandedSignatures(df: DataFrame, idCol: String, textCol: String,
      path: String, bands: Int = 4, numHashes: Int = 8): Unit = {
    requireBandWidths(bands, numHashes)
    // bands/num_hashes ride along as constant columns (RLE — free in
    // parquet) so the reader can FAIL FAST on a width mismatch instead
    // of silently joining disjoint bucket keys to zero candidates
    banded(df, idCol, textCol, bands, numHashes)
      .select(col("__id").as(idCol), col("__band").as("band"),
        col("__bucket").as("bucket"),
        lit(bands).as("bands"), lit(numHashes).as("num_hashes"))
      .write.mode("overwrite").parquet(path)
  }

  /** [[minhashCandidatesAgainst]] against an already-banded reference
    * table (a [[writeBandedSignatures]] output read back): identical
    * pairs, zero reference-text reads — only the NEW batch shingles.
    * The table's recorded bands/num_hashes must match the reader's
    * (validated over the WHOLE table via a min/max probe — different
    * widths would silently produce disjoint buckets = zero candidates
    * for every batch, and a mixed-width table is exactly the corruption
    * an append of a second write produces). */
  def minhashCandidatesAgainstBands(
      newDf: DataFrame, bandsDf: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, numHashes: Int = 8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireBandWidths(bands, numHashes)
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    validateBandsTable(bandsDf, bands, numHashes)
    candidatesAgainstBanded(
      banded(newDf, idCol, textCol, bands, numHashes),
      bandsDf.select(col(idCol).as("__id"),
        col("band").as("__band"), col("bucket").as("__bucket")),
      maxBucket)
  }

  private def requireBandWidths(bands: Int, numHashes: Int): Unit = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands must tile the $numHashes-hash signature exactly, got $bands")
  }

  /** The band-b bucket key of a MinHash signature column. Bands of one
    * or two components (the common tilings — 8 hashes × 4 bands, 128 ×
    * 64) PACK INTO ONE LONG: each signature component is `mod (2³¹−1)`
    * (see [[graft.functions.MinHashSig]]), so `c0 << 31 | c1` is
    * injective — bucket membership, and therefore every candidate pair,
    * is identical to the former ":"-joined decimal string key — while
    * each band shuffle carries 8 fixed bytes instead of a ~21-char
    * string. Wider bands keep the string form (31·rowsPerBand bits no
    * longer fit a long). The short-doc sentinel signature (all
    * components Long.MaxValue; reaches this only on the STREAMING path
    * — batch [[banded]] filters sentinel rows) keys to Long.MaxValue in
    * a 1-component band (the component itself; real components are
    * ≤ 2³¹−2) and packs to -1 in a 2-component band (MaxValue << 31
    * has its low 31 bits clear, so the OR is all-ones; real packed keys
    * are non-negative). Either way a sentinel can never collide with a
    * reference key, and short stream docs still pass every anti-join as
    * clean.
    *
    * ONE definition shared by the batch banding — and therefore by
    * [[writeBandedSignatures]]'s on-disk `bucket` column — and the
    * streaming per-band key derivation ([[minhashCleanStream]]), so the
    * persisted format and the stream side cannot drift: a format change
    * here changes BOTH, never one ([[validateBandsTable]] additionally
    * rejects a persisted table whose bucket type predates the caller's
    * encoding). */
  private def bandBucketCol(sigCol: Column, b: Int, rowsPerBand: Int): Column =
    if (rowsPerBand == 1) element_at(sigCol, b + 1)
    else if (rowsPerBand == 2)
      shiftleft(element_at(sigCol, 2 * b + 1), 31)
        .bitwiseOR(element_at(sigCol, 2 * b + 2))
    else concat_ws(":", (0 until rowsPerBand).map(r =>
      element_at(sigCol, b * rowsPerBand + r + 1).cast("string")): _*)

  /** The SQL type [[bandBucketCol]] emits at these widths — packed long
    * for 1- and 2-component bands, string beyond. */
  private def bucketKeyType(bands: Int,
      numHashes: Int): org.apache.spark.sql.types.DataType =
    if (numHashes / bands <= 2) org.apache.spark.sql.types.LongType
    else org.apache.spark.sql.types.StringType

  /** Eager validation that `bandsDf` is a homogeneous
    * [[writeBandedSignatures]] table at the caller's widths: a
    * whole-table min/max probe over the two RLE constant columns (one
    * cheap two-column scan; every consumer scans the full table anyway).
    * A ONE-row probe would let a heterogeneous table — e.g. two
    * writeBandedSignatures outputs at different widths appended to one
    * path — pass validation while its mismatched-width rows silently
    * never collide (duplicates admitted with no error). NULL widths
    * (hand-built rows) are caught by the count compare; an empty table
    * validates trivially (zero candidates). */
  private def validateBandsTable(bandsDf: DataFrame, bands: Int,
      numHashes: Int): Unit = {
    require(bandsDf.columns.contains("bands") &&
      bandsDf.columns.contains("num_hashes"),
      "bandsDf is not a writeBandedSignatures table (bands/num_hashes " +
        "columns missing) — rebuild it, or band the reference yourself " +
        "and call minhashCandidatesAgainst")
    // count the CAST columns: a non-numeric width (hand-built string
    // table) casts to NULL, and counting the raw column instead would
    // pass this guard only to NPE on getInt below — the opposite of
    // failing loudly with a diagnosis
    val wr0 = bandsDf
      .agg(count(lit(1)),
        count(col("bands").cast("int")), count(col("num_hashes").cast("int")),
        min(col("bands").cast("int")), max(col("bands").cast("int")),
        min(col("num_hashes").cast("int")), max(col("num_hashes").cast("int")))
      .head()
    if (wr0.getLong(0) > 0) {
      require(wr0.getLong(1) == wr0.getLong(0) && wr0.getLong(2) == wr0.getLong(0),
        s"bands table has NULL or non-numeric bands/num_hashes rows " +
          s"(${wr0.getLong(0) - math.min(wr0.getLong(1), wr0.getLong(2))} of " +
          s"${wr0.getLong(0)}) — rebuild it with writeBandedSignatures")
      require(wr0.getInt(3) == bands && wr0.getInt(4) == bands &&
        wr0.getInt(5) == numHashes && wr0.getInt(6) == numHashes,
        s"bands table was written at bands=${wr0.getInt(3)}..${wr0.getInt(4)}/" +
          s"numHashes=${wr0.getInt(5)}..${wr0.getInt(6)}, caller passed " +
          s"$bands/$numHashes — mismatched widths never collide (zero " +
          "candidates); a min≠max range means the table mixes two writes")
    }
    // encoding check (after the width probe, so width errors keep their
    // diagnosis): a table persisted under the pre-packed string key
    // format at these same widths would otherwise type-coerce through
    // the join and silently never collide
    if (bandsDf.columns.contains("bucket")) {
      val bt = bandsDf.schema("bucket").dataType
      val expect = bucketKeyType(bands, numHashes)
      require(bt == expect,
        s"bands table 'bucket' column is $bt but bands=$bands/" +
          s"numHashes=$numHashes uses the $expect key encoding — the " +
          "table was written under a different band-key format; rebuild " +
          "it with writeBandedSignatures")
    }
  }

  /** STREAMING decontamination filter against a persisted signature
    * table: pass through only the docs of a micro-batch stream that
    * share NO MinHash band bucket with the reference corpus —
    * [[minhashCandidatesAgainstBands]]'s daily-ingest join recast as a
    * per-row streaming filter (the batch form emits candidate PAIRS for
    * verification; the stream form drops candidate docs and passes
    * clean docs through with ALL their columns, the shape an ingest
    * pipeline wants).
    *
    * Why this is streaming-legal with no watermark: per-doc banding is
    * a stateless projection (the codegen'd [[graft.functions
    * .MinHashSig]] plus fixed-width bucket-key concats — no shuffle, no
    * state — per-band keys are the packed-long [[bandBucketCol]]
    * encoding), and the verdict is `bands` chained stream-static LEFT ANTI
    * equi-joins, one per band-key COLUMN: a doc survives iff its band-b
    * key misses the reference keyset for EVERY b. Band keys as columns
    * (not an explode) keep one row per doc, so no streaming
    * deduplication/aggregation is ever needed — anti stream-static
    * equi-joins are append-mode legal as-is. Docs too short to shingle
    * carry the empty-signature sentinel key; [[writeBandedSignatures]]
    * never writes sentinel rows ([[banded]] filters them), so short
    * docs pass as clean — exactly the batch path's semantics (no
    * shingles → no candidate evidence). The clean-doc set equals the
    * batch complement: the reference-side hot-bucket cap never empties
    * a bucket, so "shares ≥1 bucket" is cap-invariant.
    *
    * 100 TB shape: each anti-join's static side is pre-filtered to its
    * OWN band's rows (band-b keys can only match band-b rows, and the
    * filter reaches the parquet scan), so a trigger reads each
    * signature row once in total, not `bands` times; for
    * high-frequency triggers cache the filtered keys sides, or bucket
    * the signature table by (band, bucket) to make each anti-join
    * shuffle-free on the static side. The static relation is
    * re-resolved per micro-batch, so a nightly signature REBUILD is
    * picked up without restarting the stream — but width validation
    * runs ONCE, at stream definition: a rebuild MUST keep the same
    * bands/numHashes, because a width-changing rebuild would make every
    * key miss (all docs pass as clean) with nothing left to catch it.
    * Change widths only with a stream restart, which re-validates. */
  def minhashCleanStream(newStream: DataFrame, bandsDf: DataFrame,
      textCol: String, bands: Int = 4, numHashes: Int = 8): DataFrame = {
    requireBandWidths(bands, numHashes)
    requireNoReservedCols(newStream,
      "__sig" +: (0 until bands).map(b => s"__bk$b"), "minhashCleanStream")
    validateBandsTable(bandsDf, bands, numHashes)
    val rowsPerBand = numHashes / bands
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(graft.functions.MinHashSig(
      ColumnBridge.expression(col(textCol)), numHashes))
    // two-projection shape (the [[banded]] pattern): materialize the
    // signature ONCE as an attribute, then derive the per-band keys from
    // it — an inline signature would re-shingle the doc per band key
    val keyed = (0 until bands).foldLeft(
      newStream.withColumn("__sig", sig)) { (d, b) =>
      d.withColumn(s"__bk$b", bandBucketCol(col("__sig"), b, rowsPerBand))
    }.drop("__sig")
    (0 until bands).foldLeft(keyed) { (d, b) =>
      val refB = bandsDf.filter(col("band") === b)
        .select(col("bucket").as("__refbucket"))
      d.join(refB, col(s"__bk$b") === col("__refbucket"), "left_anti")
    }.drop((0 until bands).map(b => s"__bk$b"): _*)
  }

  /** Shared core of the incremental MinHash joins: asymmetric reference
    * cap (lowest `maxBucket` ids per (band, bucket); the NEW side never
    * caps), band-bucket equi-join, distinct (new_id, ref_id). BOTH
    * public forms reduce through this — one copy of the cap semantics. */
  private def candidatesAgainstBanded(nBanded: DataFrame,
      rBanded: DataFrame, maxBucket: Int): DataFrame = {
    val n = nBanded.as("n")
    val wr = Window.partitionBy("__band", "__bucket").orderBy("__id")
    val r = rBanded
      .withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn").as("r")
    n.join(r, col("n.__band") === col("r.__band")
        && col("n.__bucket") === col("r.__bucket"))
      .select(col("n.__id").as("new_id"), col("r.__id").as("ref_id"))
      .distinct()
  }

  /** Shared banded-signature frame: ONE native-MinHashSig projection (an
    * explode fan-out, not a union of per-band selects that would re-plan
    * the scan + shingle hashing per band), with the short-doc sentinel
    * filter — docs too short to shingle (<3 tokens) all share the
    * Long.MaxValue empty-signature minima and would collide into ONE
    * quadratic bucket; they have no shingles to match on, so they are
    * dropped from candidate generation entirely. */
  private def banded(df: DataFrame, idCol: String, textCol: String,
      bands: Int, numHashes: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sig = ColumnBridge.column(graft.functions.MinHashSig(
      ColumnBridge.expression(col(textCol)), numHashes))
    val sigd = df.select(col(idCol).as("__id"), sig.as("__sig"))
      .filter(element_at(col("__sig"), 1) =!= Long.MaxValue)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        bandBucketCol(col("__sig"), b, rowsPerBand).as("bucket"))
    }
    sigd.select(col("__id"), explode(array(bandStructs: _*)).as("__bk"))
      .select(col("__id"), col("__bk.band").as("__band"),
        col("__bk.bucket").as("__bucket"))
  }

  /** Broder MinHash similarity estimate over candidate pairs: the
    * fraction of equal signature components, an unbiased estimator of
    * the 3-shingle Jaccard with standard error ~1/√numHashes. The cheap
    * middle tier between banding (recall) and [[jaccardVerify]]
    * (exact): rank or pre-filter candidates WITHOUT re-reading text —
    * at production width (numHashes = 128) the estimate is ±0.09 and
    * most pairs never need the exact shingle join. Signatures are built
    * only for docs appearing in a pair (semi-join first, the
    * jaccardVerify discipline); pairs where either doc is too short to
    * carry a signature (the empty-signature sentinel) — including docs
    * with NULL text, which sign as empty — estimate NULL, never a
    * spurious 1.0.
    *
    * `candidates` contract (shared with [[jaccardVerify]]): DISTINCT
    * (id1, id2) pairs over ids UNIQUE in `df`. Duplicate pairs collapse
    * to ONE output row (they are the same pair; every in-repo generator
    * emits distinct pairs), and a duplicated id in `df` would make the
    * per-leg `first()` pick one of its rows — pass deduplicated inputs.
    * A pair whose doc is ABSENT from `df` is dropped. */
  def minhashEstimate(
      df: DataFrame, candidates: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val cand = candidates.persist(MEMORY_AND_DISK)
    // no distinct() on the semi-join id set, and ONE join against the
    // signature frame via the explode-the-pair-legs shape — the
    // [[jaccardVerify]] restructure applied here for the same reasons:
    // the old two-leg join planned `sigs` twice (two concurrent
    // shuffle-map stages each re-shingling the candidate docs) and
    // shuffled the signatures three times; this computes them once and
    // shuffles them twice. first(when, ignoreNulls) is deterministic
    // (one row per leg per group); duplicate candidate pairs collapse
    // to one output row.
    val candIds = cand.select(col("id1").as(idCol))
      .union(cand.select(col("id2").as(idCol)))
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // NULL text coalesces to '' BEFORE signing (ADVICE r16): MinHashSig
    // is nullIntolerant, so a null-text doc would carry a null signature
    // and be dropped below as if absent from df — coalesced, it hits the
    // short-doc sentinel and estimates NULL, the documented contract
    val sigCol = ColumnBridge.column(graft.functions.MinHashSig(
      ColumnBridge.expression(coalesce(col(textCol), lit(""))), numHashes))
    val sigs = df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("__id"), sigCol.as("__sig"))
    cand.select(col("id1"), col("id2"),
        explode(array(col("id1"), col("id2"))).as("__id"))
      .join(sigs, "__id")
      .groupBy(col("id1"), col("id2"))
      .agg(
        first(when(col("__id") === col("id1"), col("__sig")),
          ignoreNulls = true).as("__s1"),
        first(when(col("__id") === col("id2"), col("__sig")),
          ignoreNulls = true).as("__s2"))
      .withColumn("est",
        when(element_at(col("__s1"), 1) === Long.MaxValue
            || element_at(col("__s2"), 1) === Long.MaxValue,
          lit(null).cast("double"))
        .otherwise(
          size(filter(zip_with(col("__s1"), col("__s2"), (a, b) => a === b),
            x => x)).cast("double") / numHashes))
      // a pair that lost a leg (its doc absent from df) carries a null
      // signature — drop it, exactly as the old form's inner joins did
      // (short docs are NOT this case: they carry the non-null sentinel
      // signature and estimate NULL above)
      .filter(col("__s1").isNotNull && col("__s2").isNotNull)
      .select(col("id1"), col("id2"), col("est"))
  }

  /** Exact Jaccard over token 3-shingles for candidate verification.
    *
    * `candidates` contract (shared with [[minhashEstimate]]): DISTINCT
    * (id1, id2) pairs over ids UNIQUE in `df`. Duplicate pairs collapse
    * to ONE output row (they are the same pair; every in-repo generator
    * emits distinct pairs), and a duplicated id in `df` would make the
    * per-leg `first()` pick one of its rows — pass deduplicated inputs.
    * A pair whose doc is absent from `df` (or has NULL text) is dropped.
    *
    * Two scale-critical shapes:
    *  - shingles are built ONLY for docs that appear in a candidate pair
    *    (semi-join first) — candidates are orders of magnitude fewer than
    *    the corpus, so the expensive text work tracks the pair set, not
    *    the corpus;
    *  - shingle windows come from the fused [[TokenLm.tokenNgrams]]
    *    codegen kernel: one split, one walk. (History: the composed
    *    `transform` form was interpreted — no codegen for higher-order
    *    functions, no common-subexpression elimination — and an inline
    *    `split()` re-ran the regex for EVERY element_at, O(tokens²) per
    *    doc with a ~40× measured slowdown. The bound-attribute fix
    *    removed the quadratic term; the kernel removes interpretation.) */
  def jaccardVerify(
      df: DataFrame, candidates: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // The pair set feeds THREE plan positions (the two id legs of the
    // semi-join id set and the exploded verify join); persisting it
    // evaluates the caller's candidate-generation pipeline ONCE. The
    // cache holds id pairs only — tiny next to any corpus.
    val cand = candidates.persist(MEMORY_AND_DISK)
    // no distinct() on the semi-join id set: a LEFT SEMI right side need
    // not be unique (the join dedups internally) and the distinct cost a
    // full exchange + two aggregates per run (r16 plan audit)
    val candIds = cand.select(col("id1").as(idCol))
      .union(cand.select(col("id2").as(idCol)))
    // shingles via the fused token_ngrams kernel (one split + one walk
    // in codegen; the composed transform form this replaced was the
    // interpreted-HOF shape the scaladoc above warns about)
    val sh = df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("__id"),
        array_distinct(TokenLm.tokenNgrams(col(textCol), 3)).as("__sh"))
    // ONE join against sh, not one per pair leg: each pair explodes to
    // its two (id1, id2, __id) legs, joins the shingle frame once, and
    // regroups on the pair key. The old leg1-join-then-leg2-join shape
    // planned sh TWICE — two concurrent shuffle-map stages each paying
    // the full tokenNgrams pass over the candidate docs — and shuffled
    // the shingle arrays three times (sh by id1, the joined arrays by
    // id2, sh by id2); this shape computes sh once and shuffles the
    // arrays twice (join + regroup). first(when, ignoreNulls) is
    // deterministic: each surviving (id1, id2) group holds exactly one
    // row per leg. Duplicate candidate pairs collapse to one output row
    // (they ARE the same pair; every in-repo generator emits distinct
    // pairs).
    cand.select(col("id1"), col("id2"),
        explode(array(col("id1"), col("id2"))).as("__id"))
      .join(sh, "__id")
      .groupBy(col("id1"), col("id2"))
      .agg(
        first(when(col("__id") === col("id1"), col("__sh")),
          ignoreNulls = true).as("__sh1"),
        first(when(col("__id") === col("id2"), col("__sh")),
          ignoreNulls = true).as("__sh2"))
      // empty-set guard: a pair where BOTH docs are under 3 tokens has
      // two empty shingle sets, and 0.0/0 = NaN would pass >= threshold
      // (Spark compares NaN greater than any number) — two unrelated
      // short docs are NOT near-dups. A pair that lost a leg (its doc is
      // absent from df) carries a null shingle set, so __u and jaccard
      // are null and the threshold filter drops it — exactly as the old
      // form's inner joins did. The union size is materialized as a
      // real column so the when() doesn't re-evaluate it per row leg.
      .withColumn("__u", size(array_union(col("__sh1"), col("__sh2"))))
      .withColumn("jaccard",
        when(col("__u") > 0,
          size(array_intersect(col("__sh1"), col("__sh2"))).cast("double") /
            col("__u")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** SimHash fingerprints (native codegen'd expression, one md5 pass per
    * token for all `bits` votes). `bits = 64` is the production width —
    * a signed long whose bit 63 is the sign bit; shift/xor/popcount all
    * operate on the two's-complement pattern identically across engines.
    * `bits = 16` reproduces the historical narrow fingerprint bit-for-bit
    * (oracle continuity for q43). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // Column-API construction (not expr(s"simhash_fp($textCol)")) so any
    // column name — spaces, dots, backticks — resolves like col() does
    val fp = ColumnBridge.column(graft.functions.SimHashFp(
      ColumnBridge.expression(col(textCol)), bits))
    df.select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup pairs via hamming bands: the fingerprint is split
    * into `bands` equal bit-chunks; docs sharing ANY band key are
    * candidates (pigeonhole: guaranteed recall for hamming < bands), then
    * the exact popcount(xor) filter keeps hamming <= `maxHamming`.
    *
    * 100 TB shape: `bands` narrow (band, key) shuffles of FINGERPRINTS
    * (never text), pairwise only within band buckets. With the default
    * 64-bit / 4-band split each band key has 2^16 values, so buckets hold
    * ~n/65536 docs — the within-bucket join stays linear at corpus scale
    * (the old 16-bit/8-bit-key form went quadratic past ~10^6 docs). */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String, bits: Int = 64,
      bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireSimhashWidths(bits, bands)
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // persisted: feeds both join sides + the hot-star branch, so the
    // fingerprint projection runs once; the cache holds (id, fp, band,
    // key) longs only. The struct-min carries the representative's
    // fingerprint alongside its id (ids are unique, so the struct order
    // is the id order).
    val w = Window.partitionBy("__band", "__key")
    val marked = simhashBanded(df, idCol, textCol, bits, bands)
      .withColumn("__cnt", count(lit(1)).over(w))
      .withColumn("__rep", min(struct(col("__id"), col("simhash"))).over(w))
      .persist(MEMORY_AND_DISK)
    val small = marked.filter(col("__cnt") <= maxBucket)
    val a = small.as("a"); val b2 = small.as("b")
    val allPairs = a.join(b2, col("a.__band") === col("b.__band")
        && col("a.__key") === col("b.__key")
        && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"),
        bitCountXor(col("a.simhash"), col("b.simhash"))
          .cast("int").as("hamming"))
    // star pairs keep the exact hamming filter: a hot-bucket member is a
    // confirmed near-dup only if it sits within maxHamming of the
    // representative (the all-pairs guarantee narrows to rep-vs-member)
    val hotStar = marked
      .filter(col("__cnt") > maxBucket && col("__id") =!= col("__rep.__id"))
      .select(col("__rep.__id").as("id1"), col("__id").as("id2"),
        bitCountXor(col("__rep.simhash"), col("simhash"))
          .cast("int").as("hamming"))
    allPairs.union(hotStar)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The band-b key of a SimHash fingerprint column: the band's bit
    * slice as a long (arithmetic shift + mask — sign-extension bits die
    * under the mask, so extraction is engine-identical). ONE definition
    * shared by the batch banding — and therefore by
    * [[writeSimhashSignatures]]'s on-disk `key` column — and the
    * streaming per-band derivation ([[simhashCleanStream]]), so the
    * persisted format and the stream side cannot drift. */
  private def simhashBandKeyCol(fpCol: Column, b: Int, bandBits: Int): Column =
    shiftright(fpCol, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))

  /** Shared banded SimHash frame: ONE fingerprint projection then an
    * explode fan-out to (__id, simhash, __band, __key) — a union of
    * per-band selects would re-plan the scan + per-token md5 once per
    * band (4× the text I/O for the default split). */
  private def simhashBanded(df: DataFrame, idCol: String, textCol: String,
      bits: Int, bands: Int): DataFrame = {
    val bandBits = bits / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        simhashBandKeyCol(col("simhash"), b, bandBits).as("key"))
    }
    simhash(df, idCol, textCol, bits)
      .select(col(idCol).as("__id"), col("simhash"),
        explode(array(bandStructs: _*)).as("__bk"))
      .select(col("__id"), col("simhash"),
        col("__bk.band").as("__band"), col("__bk.key").as("__key"))
  }

  /** Incremental (asymmetric) SimHash near-dups: match a NEW batch
    * against an existing REFERENCE corpus — the daily-ingest twin of
    * [[simhashNearDups]], completing the incremental family (exact →
    * [[exactMatchesAgainst]], MinHash → [[minhashCandidatesAgainst]],
    * embedding → [[semDedupAgainst]]). Returns (new_id, ref_id, hamming)
    * for pairs sharing ANY hamming band with fingerprint distance at
    * most `maxHamming`.
    *
    * Hot-bucket guard (asymmetric): the REFERENCE side keeps its
    * `maxBucket` lowest-id rows per (band, key). A (band, key) bucket is
    * a SIGNATURE bucket — membership implies candidate similarity — so
    * the per-bucket lowest-id cap is sound here (any retained member of
    * a true near-dup flood still matches each new doc; contrast the
    * k-means-cell caps in [[semDedupAgainst]], which need LSH
    * sub-bucketing). The NEW side is never capped — every incoming doc
    * gets its verdict. */
  def simhashNearDupsAgainst(
      newDf: DataFrame, refDf: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireSimhashWidths(bits, bands)
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    simhashAgainstBanded(
      simhashBanded(newDf, idCol, textCol, bits, bands),
      simhashBanded(refDf, idCol, textCol, bits, bands),
      maxHamming, maxBucket)
  }

  /** Shared core of the incremental SimHash joins (the
    * [[candidatesAgainstBanded]] pattern): asymmetric reference cap,
    * band-key equi-join, hamming filter, distinct (new_id, ref_id,
    * hamming). Both public forms reduce through this. */
  private def simhashAgainstBanded(nBanded: DataFrame,
      rBanded: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val n = nBanded.as("n")
    val wr = Window.partitionBy("__band", "__key").orderBy("__id")
    val r = rBanded
      .withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn").as("r")
    n.join(r, col("n.__band") === col("r.__band")
        && col("n.__key") === col("r.__key"))
      .select(col("n.__id").as("new_id"), col("r.__id").as("ref_id"),
        bitCountXor(col("n.simhash"), col("r.simhash"))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Persist a corpus's banded SimHash fingerprints as an (id, simhash,
    * band, key) parquet table — the fingerprint-side twin of
    * [[writeBandedSignatures]]: a production pipeline fingerprints the
    * reference corpus ONCE, then each daily batch joins
    * [[simhashNearDupsAgainstBands]] (or streams through
    * [[simhashCleanStream]]) against the table and never re-reads the
    * reference TEXT. The full fingerprint rides along because the
    * hamming verdict needs it, not just the band keys. Widths are
    * recorded as RLE constant columns and re-validated whole-table at
    * read time (the [[validateBandsTable]] contract). */
  def writeSimhashSignatures(df: DataFrame, idCol: String, textCol: String,
      path: String, bits: Int = 64, bands: Int = 4): Unit = {
    requireSimhashWidths(bits, bands)
    simhashBanded(df, idCol, textCol, bits, bands)
      .select(col("__id").as(idCol), col("simhash"),
        col("__band").as("band"), col("__key").as("key"),
        lit(bits).as("bits"), lit(bands).as("bands"))
      .write.mode("overwrite").parquet(path)
  }

  private def requireSimhashWidths(bits: Int, bands: Int): Unit = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    require(bands >= 1 && bands <= bits && bits % bands == 0,
      s"bands must tile the $bits-bit fingerprint exactly, got $bands")
    require(bits / bands <= 32, s"band keys must fit 32 bits, got ${bits / bands}")
  }

  /** Whole-table width validation for a [[writeSimhashSignatures]]
    * table — same probe and failure modes as [[validateBandsTable]]:
    * mismatched or mixed widths mean the band keys never collide (all
    * docs pass as clean / zero candidates) with nothing else to catch
    * it. */
  private def validateSimhashTable(sigDf: DataFrame, bits: Int,
      bands: Int): Unit = {
    require(Seq("simhash", "band", "key", "bits", "bands")
        .forall(sigDf.columns.contains),
      "sigDf is not a writeSimhashSignatures table (simhash/band/key/" +
        "bits/bands columns missing) — rebuild it, or fingerprint the " +
        "reference yourself and call simhashNearDupsAgainst")
    val wr0 = sigDf
      .agg(count(lit(1)),
        count(col("bits").cast("int")), count(col("bands").cast("int")),
        min(col("bits").cast("int")), max(col("bits").cast("int")),
        min(col("bands").cast("int")), max(col("bands").cast("int")))
      .head()
    if (wr0.getLong(0) > 0) {
      require(wr0.getLong(1) == wr0.getLong(0) && wr0.getLong(2) == wr0.getLong(0),
        s"simhash table has NULL or non-numeric bits/bands rows " +
          s"(${wr0.getLong(0) - math.min(wr0.getLong(1), wr0.getLong(2))} of " +
          s"${wr0.getLong(0)}) — rebuild it with writeSimhashSignatures")
      require(wr0.getInt(3) == bits && wr0.getInt(4) == bits &&
        wr0.getInt(5) == bands && wr0.getInt(6) == bands,
        s"simhash table was written at bits=${wr0.getInt(3)}..${wr0.getInt(4)}/" +
          s"bands=${wr0.getInt(5)}..${wr0.getInt(6)}, caller passed " +
          s"$bits/$bands — mismatched widths never collide; a min≠max " +
          "range means the table mixes two writes")
    }
  }

  /** [[simhashNearDupsAgainst]] against an already-fingerprinted
    * reference table (a [[writeSimhashSignatures]] output read back):
    * identical pairs, zero reference-text reads — only the NEW batch is
    * fingerprinted. */
  def simhashNearDupsAgainstBands(
      newDf: DataFrame, sigDf: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, bands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireSimhashWidths(bits, bands)
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    validateSimhashTable(sigDf, bits, bands)
    simhashAgainstBanded(
      simhashBanded(newDf, idCol, textCol, bits, bands),
      sigDf.select(col(idCol).as("__id"), col("simhash"),
        col("band").as("__band"), col("key").as("__key")),
      maxHamming, maxBucket)
  }

  /** STREAMING near-dup filter against a persisted SimHash table: pass
    * through only the docs of a micro-batch stream with NO reference
    * fingerprint within `maxHamming` bits in ANY shared band bucket —
    * the fingerprint-side twin of [[minhashCleanStream]] (same
    * chained-anti-join shape, same static-side band pruning, same
    * once-at-definition width validation and rebuild caveat), with the
    * hamming test as the join's residual condition: an anti-join drops
    * a doc only when key equality AND the hamming bound BOTH hold, so
    * a same-key far-fingerprint neighbor does not evict a clean doc.
    *
    * Cap caveat — this is the UNCAPPED verdict: unlike MinHash bucket
    * existence (cap-invariant, any retained member still matches), the
    * hamming residual makes existence depend on WHICH rows survive a
    * cap, so [[simhashNearDupsAgainstBands]] at its default `maxBucket`
    * can admit a doc this filter drops (a flood bucket whose retained
    * lowest-id rows are all hamming-far while an evicted row was
    * close). Interchange the batch and stream forms only at
    * `maxBucket = Int.MaxValue`; the spec pins equivalence there. */
  def simhashCleanStream(newStream: DataFrame, sigDf: DataFrame,
      textCol: String, bits: Int = 64, bands: Int = 4,
      maxHamming: Int = 3): DataFrame = {
    requireSimhashWidths(bits, bands)
    requireNoReservedCols(newStream,
      "__fp" +: (0 until bands).map(b => s"__sk$b"), "simhashCleanStream")
    validateSimhashTable(sigDf, bits, bands)
    val bandBits = bits / bands
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val fp = ColumnBridge.column(graft.functions.SimHashFp(
      ColumnBridge.expression(col(textCol)), bits))
    val keyed = (0 until bands).foldLeft(
      newStream.withColumn("__fp", fp)) { (d, b) =>
      d.withColumn(s"__sk$b", simhashBandKeyCol(col("__fp"), b, bandBits))
    }
    (0 until bands).foldLeft(keyed) { (d, b) =>
      val refB = sigDf.filter(col("band") === b)
        .select(col("key").as("__refkey"), col("simhash").as("__reffp"))
      d.join(refB,
        col(s"__sk$b") === col("__refkey") &&
          bitCountXor(col("__fp"), col("__reffp")) <= maxHamming,
        "left_anti")
    }.drop("__fp" +: (0 until bands).map(b => s"__sk$b"): _*)
  }

  /** bit_count(a ^ b) as a Column — the hamming distance between two
    * 64-bit fingerprints, shared by the batch join core and the
    * streaming residual condition. */
  private def bitCountXor(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Connected components over a near-dup PAIR set: each node's cluster
    * id is the minimum id reachable through pair edges (min-label
    * propagation to fixpoint). This is the step that turns pairwise
    * near-dup evidence into dedup GROUPS — transitively: if a~b and b~c,
    * then {a,b,c} is one cluster with representative min(a,b,c) — so a
    * pipeline keeps exactly one doc per cluster instead of dropping one
    * side of each pair (which can over- or under-delete on chains).
    *
    * 100 TB shape: iterates over the PAIR graph only (candidates after
    * banding/verification — orders of magnitude smaller than the corpus);
    * each round is ONE job — a join + min-aggregate whose full decimal
    * label-sum doubles as both the cache materializer and the convergence
    * probe — with the superseded round's cache explicitly released (at
    * most two label copies live at any moment). After each round the
    * materialized frame's LINEAGE is truncated
    * ([[org.apache.spark.sql.graftbridge.PlanBridge.truncateLineage]]):
    * `next` references `labels` twice (join + union), so without
    * truncation round k's logical plan embeds round k-1's twice — 2^k
    * plan nodes that analysis/optimization/plan-stringification walk on
    * EVERY action even though the cached data makes execution cheap (at
    * corpus scale the driver stalls for minutes stringifying the round-8
    * plan before any task runs). Truncation keeps the per-round plan
    * constant-size while persistence stays explicitly managed (blocks
    * free on `unpersist`, not GC — the failure mode that ruled out
    * `localCheckpoint`). Near-dup clusters are small and shallow, so the
    * label diameter — and the round count — is tiny; raise `maxIter` for
    * pathological chain-shaped corpora. The fixpoint is unique, hence
    * deterministic under any execution order.
    *
    * Bounded local endgame: when the symmetrized edge set has at most
    * `localEdgeThreshold` rows, labels are computed with a driver-side
    * union-find instead of the job loop. Each distributed round pays a
    * fixed scheduling latency (two shuffles + a probe action) that
    * dwarfs the actual work below driver scale, and near-dup pair
    * graphs are orders of magnitude smaller than their corpora — small
    * enough that production dedup pipelines build their clusters on a
    * single machine outright (Lee et al. 2021, arXiv:2107.06499, §3).
    * The threshold bounds driver memory: at most `localEdgeThreshold`
    * two-id rows are collected, the boxed-id index and output hold at
    * most 2×threshold entries, so the default 100k edges is a few tens
    * of MB transient and the returned local relation (≤ 2×threshold
    * rows) stays well under broadcast-join size — the downstream
    * anti-join broadcasts it rather than embedding it in task
    * binaries. Above the threshold the distributed loop runs
    * unchanged, so a 100 TB corpus whose pair graph outgrows the
    * driver degrades to the scalable path, not to an OOM. Both paths
    * compute the same unique fixpoint — min reachable id per node —
    * and a spec pins their equivalence; both fail fast on NULL ids
    * (checked by the same aggregate that routes between them).
    * `localEdgeThreshold = 0` forces the distributed loop (even on an
    * empty edge set).
    *
    * Returns (node, cluster). The distributed path's result is
    * persisted and materialized — callers may `.unpersist()` it when
    * done; the local path's is an in-memory local relation
    * (`unpersist` is a harmless no-op). */
  def clusterPairs(pairs: DataFrame, idCol1: String = "id1",
      idCol2: String = "id2", maxIter: Int = 25,
      localEdgeThreshold: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanBridge.truncateLineage
    // the exact convergence probe below sums labels in decimal — that is
    // only sound for NUMERIC ids (string labels cast to null, the sum
    // never moves, and the loop would declare convergence after one
    // round with silently incomplete clusters). Fail fast; string-keyed
    // corpora should map ids to dense longs first (one join the caller
    // controls) rather than pay a per-round hash probe here.
    for (c <- Seq(idCol1, idCol2)) {
      val dt = pairs.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"clusterPairs requires numeric id columns (the exact label-sum " +
          s"convergence probe); $c is $dt — map ids to dense longs first")
    }
    val edgesCache = pairs.select(col(idCol1).as("a"), col(idCol2).as("b"))
      .union(pairs.select(col(idCol2).as("a"), col(idCol1).as("b")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // ONE aggregate materializes the cache, routes small graphs to the
    // local endgame (see scaladoc), and rejects NULL ids on both paths:
    // a null id would NPE the local Comparable ordering and silently
    // vanish from least()/min() in the distributed rounds — neither is
    // a sane cluster label; candidate generators join on non-null keys,
    // so fail loudly on the contract breach instead of picking a
    // path-dependent wrong answer. The distributed seed below reads the
    // already-cached edges, so the extra job is one cache scan.
    val routeRow = edgesCache
      .agg(count(lit(1)).as("n"),
        count(when(col("a").isNotNull && col("b").isNotNull, 1)).as("ok"))
      .head()
    val edgeCount = routeRow.getLong(0)
    val nullEdges = edgeCount - routeRow.getLong(1)
    if (nullEdges > 0) {
      // release the routing cache before throwing: batch loops that
      // catch-and-skip bad batches must not accumulate orphaned blocks
      edgesCache.unpersist(false)
      throw new IllegalArgumentException(
        s"clusterPairs requires non-null ids: $nullEdges of $edgeCount " +
          s"symmetrized edges have a null $idCol1/$idCol2 side — filter " +
          "or repair the pair set first")
    }
    if (localEdgeThreshold > 0 && edgeCount <= localEdgeThreshold) {
      val idType = edgesCache.schema("a").dataType
      val rows = edgesCache.collect()
      edgesCache.unpersist(false)
      // index-compress ids, then union-find with path halving. All
      // values of one Spark NumericType share a runtime class, so
      // Comparable ordering is safe and agrees with least()/min().
      val idx = new java.util.HashMap[Any, Integer]()
      val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
      def ix(v: Any): Int = {
        val got = idx.get(v)
        if (got != null) got.intValue
        else {
          idx.put(v, Integer.valueOf(vals.length))
          vals += v; parent += parent.length; vals.length - 1
        }
      }
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      var i = 0
      while (i < rows.length) {
        val ra = find(ix(rows(i).get(0)))
        val rb = find(ix(rows(i).get(1)))
        if (ra != rb) parent(rb) = ra
        i += 1
      }
      def lt(x: Any, y: Any): Boolean =
        x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      val minOf = new java.util.HashMap[Integer, Any]()
      for (j <- vals.indices) {
        val r = Integer.valueOf(find(j))
        val cur = minOf.get(r)
        if (cur == null || lt(vals(j), cur)) minOf.put(r, vals(j))
      }
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](vals.length)
      for (j <- vals.indices)
        out.add(org.apache.spark.sql.Row(
          vals(j), minOf.get(Integer.valueOf(find(j)))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", idType),
        org.apache.spark.sql.types.StructField("cluster", idType)))
      return pairs.sparkSession.createDataFrame(out, schema)
    }
    // Convergence probe: per-node labels are MONOTONICALLY non-increasing
    // (each round takes min(own, offers)), so the label table changed iff
    // its total label sum changed. Summing in decimal(38,0) is exact for
    // any graph size (no Long overflow, no double rounding), and the full
    // aggregation scans every partition — materializing the round's cache
    // completely in the SAME job that decides convergence (a limit-style
    // probe would cache only some partitions and recompute the rest
    // through by-then-unpersisted parents). Empty graph → null sum on
    // both sides → converged at round 1, labels empty: correct.
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("cluster").cast("decimal(38,0)"))).head().getDecimal(0)
    // `labelsCache` is the persisted handle (unpersist target + what the
    // caller receives); `labels` is its lineage-truncated twin that the
    // next round builds on. Truncation is lazy (toRdd + LogicalRDD — no
    // job), and the truncated frame reads through the still-live cache.
    // Seed each node with min(self, neighbors) instead of self: the same
    // single init shuffle (a groupBy replaces the distinct), but round 1
    // of propagation comes free — star-shaped clusters (the dominant
    // near-dup shape) converge one round earlier. Any seed drawn from the
    // node's reachable set preserves the fixpoint (min over the
    // reachable component) and the monotone non-increase the sum probe
    // relies on.
    var labelsCache = edgesCache
      .groupBy(col("a").as("node"))
      .agg(least(col("a"), min(col("b"))).as("cluster"))
      .persist(MEMORY_AND_DISK)
    var prevSum = labelSum(labelsCache)
    // edges' plan embeds the caller's whole candidate pipeline; truncate
    // it once (after labelSum materialized both caches) so each round's
    // plan is LogicalRDD-join-LogicalRDD, independent of upstream size.
    val edges = truncateLineage(edgesCache)
    var labels = truncateLineage(labelsCache)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Pointer jump (path halving) BEFORE the edge round: the label
      // table is itself a pointer map — cluster ids are node ids, and
      // every label value has its own row (symmetrized edges put every
      // endpoint in `a`) — so label(x) ← label(label(x)) is one
      // self-join of the CACHED table that contracts label chains by
      // half. Combined with the edge offer below, chain-shaped
      // components converge in O(log diameter) rounds instead of
      // O(diameter) — plain min-propagation walks a k-chain one hop per
      // round. Jump preserves the invariants the convergence probe
      // needs: label(x) ≤ x always (seed is min(self, nbrs)), so
      // label(label(x)) ≤ label(x) — monotone non-increasing — and
      // label(label(x)) is reachable from x, so the fixpoint (component
      // min everywhere, where the jump is the identity) is unchanged.
      // The left join + coalesce is belt-and-braces for a label value
      // missing from the table (cannot happen on symmetrized edges).
      val jumped = labels.as("l")
        .join(labels.as("r"), col("l.cluster") === col("r.node"), "left")
        .select(col("l.node").as("node"),
          coalesce(col("r.cluster"), col("l.cluster")).as("cluster"))
      // each node offers its (jumped) label to every neighbor; keep the
      // min of (own label, offered labels)
      val next = edges
        .join(jumped.withColumnRenamed("node", "a"), "a")
        .select(col("b").as("node"), col("cluster"))
        .union(jumped)
        .groupBy("node").agg(min("cluster").as("cluster"))
        .persist(MEMORY_AND_DISK)
      val s = labelSum(next)
      labelsCache.unpersist(false)
      labelsCache = next
      labels = truncateLineage(next)
      converged = (s == null && prevSum == null) ||
        (s != null && prevSum != null && s.compareTo(prevSum) == 0)
      prevSum = s
      iter += 1
    }
    // release caches BEFORE the convergence require: a caller that
    // catches the failure (and retries with a higher maxIter) must not
    // inherit orphaned blocks from the failed attempt
    edgesCache.unpersist(false)
    if (!converged) labelsCache.unpersist(false)
    require(converged, s"clusterPairs did not converge in $maxIter rounds")
    labelsCache
  }

  /** Keep one representative per near-dup cluster: computes the
    * transitive clusters of `pairs` ([[clusterPairs]]) and anti-joins the
    * non-representative ids out of `df`. Rows in no pair survive
    * untouched — the end-to-end "pairs in, deduplicated corpus out"
    * composition every curation pipeline runs.
    *
    * Cache lifecycle: on the distributed path (pair graphs above
    * `localEdgeThreshold`), the label table [[clusterPairs]] persists
    * stays cached for the life of the session (its lineage is
    * truncated, so it cannot be unpersisted before the result is
    * consumed). One-shot pipelines don't care; a long-lived session
    * deduplicating many batches should call `clusterPairs` directly
    * and unpersist the returned frame between batches (or
    * `spark.catalog.clearCache()`) — the same contract as the banded
    * candidate frames (object doc). The local endgame returns a plain
    * local relation: nothing cached, nothing to release. */
  def keepOnePerCluster(df: DataFrame, idCol: String, pairs: DataFrame,
      idCol1: String = "id1", idCol2: String = "id2",
      maxIter: Int = 25,
      localEdgeThreshold: Long = 100000L): DataFrame = {
    val drops = clusterPairs(pairs, idCol1, idCol2, maxIter,
      localEdgeThreshold)
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-dup pairs above `threshold`, restricted to a
    * candidate set (e.g. LSH buckets from Similarity.lshBuckets) so the
    * pairwise work stays bounded.
    *
    * The cosine is rounded to `roundDp` decimals BEFORE the threshold
    * test: the dot product is a sequential fold of doubles, and a
    * last-ulp wobble at the threshold boundary must not flip membership
    * (the same rule every cross-engine-checked similarity query uses).
    *
    * Hot-bucket guard — cell-aware, unlike the minhash/simhash star: a
    * SIGNATURE bucket implies its members are mutual near-dup candidates,
    * so a single min-id star preserves flood connectivity there; a
    * k-means CELL (the [[semDedup]] bucketing) holds DISSIMILAR rows by
    * design, so a cell-wide star around an arbitrary min-id row would
    * miss every flood not similar to it. Buckets above `maxBucket` are
    * therefore SUB-BUCKETED by an 8-bit LSH sign key (similar rows — a
    * boilerplate flood — share it; distinct floods split): sub-buckets
    * at or under `maxBucket` run exact all-pairs, larger ones degrade to
    * a star around the SUB-bucket's min-id row (which is a flood member,
    * so connectivity survives and [[clusterPairs]] output is unchanged
    * for true-dup floods). What the degrade gives up: pairs BETWEEN
    * sub-buckets of a hot bucket — a borderline near-dup pair split by
    * one sign bit — the standard LSH recall trade, taken only on
    * flood-shaped buckets. Total pair cost per hot bucket is O(cnt·
    * maxBucket) worst-case, O(cnt) for floods.
    *
    * Rows with a NULL bucket key never pair (the equi-join rule) — made
    * explicit up front so the hot-branch windowing cannot resurrect
    * them. The marked frame is persisted (feeds both join sides + the
    * star branch; ids + vectors + scalar keys only, never text; the
    * per-sub-bucket representative VECTOR is joined back for hot rows
    * only, so the cache does not duplicate vectors) — same contract as
    * the banded frames. */
  def cosineNearDups(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bucketCol: Column, roundDp: Int = 6,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import graft.functions.ArrayMath
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // 8-bit seedless sign key at planeOffset 32: callers commonly pass a
    // seedless lshBucket as bucketCol (q65 does), and the seedless family
    // depends only on (i, j + offset) — offset 0 would make the sub-key
    // bits a SUBSET of such a bucket key's bits (constant within every
    // bucket ⇒ the degrade silently reverts to one cell-wide star).
    // Offset 32 is disjoint from any offset-0 bucketCol (nBits ≤ 32).
    // The plane family tolerates any dim up to the oversized plane
    // length (projection folds the common prefix).
    val subKey = graft.ops.Similarity.lshBucket(
      col("__v"), dim = 4096, nBits = 8, planeOffset = 32)
    val wb = Window.partitionBy("__bk")
    val ws = Window.partitionBy("__bk", "__sb")
    // each row's norm is computed ONCE here: the pair join below touches
    // every row ~bucketSize times, and the fused cosine would recompute
    // both norms per PAIR — precomputing cuts 2/3 of the pair-join
    // flops while keeping the exact expression shape (dot / (na·nb) in
    // the same association order as ArrayCosineSim, so the rounded
    // value — and the q65/q104/q109 oracles — are bit-identical)
    val marked = emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"), bucketCol.as("__bk"))
      .filter(col("__bk").isNotNull)
      .withColumn("__nrm", sqrt(ArrayMath.dot(col("__v"), col("__v"))))
      .withColumn("__cnt", count(lit(1)).over(wb))
      // small buckets share one sentinel sub-bucket (= the whole bucket),
      // so ONE equi-join on (__bk, __sb) serves both regimes; the LSH
      // key is computed only for hot-bucket rows
      .withColumn("__sb",
        when(col("__cnt") > maxBucket, subKey).otherwise(lit(-1)))
      .withColumn("__scnt", count(lit(1)).over(ws))
      .withColumn("__repid", min(col("__id")).over(ws))
      .persist(MEMORY_AND_DISK)
    // zero-norm guard: a bare ANSI `/` would throw on 0/0; the when()
    // yields null, which the threshold filter DROPS. This is a
    // deliberate behavior change from the fused-cosine form, whose NaN
    // compared GREATER than the threshold (Spark nanSafeCompare) and so
    // emitted pairs for two zero-norm vectors sharing a bucket — the
    // null path matches the DuckDB oracles (0/0 → NULL, dropped) and
    // the "a zero vector is similar to nothing" semantics every ranker
    // here uses.
    def cosOf(dot: Column, na: Column, nb: Column): Column =
      round(when(na * nb =!= 0.0, dot / (na * nb)), roundDp)
    val small = marked.filter(col("__scnt") <= maxBucket)
    val l = small.as("l"); val r = small.as("r")
    val allPairs = l.join(r,
        col("l.__bk") === col("r.__bk") && col("l.__sb") === col("r.__sb")
          && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id1"), col("r.__id").as("id2"),
        cosOf(ArrayMath.dot(col("l.__v"), col("r.__v")),
          col("l.__nrm"), col("r.__nrm")).as("cos"))
    // hot sub-buckets: star around the sub-bucket's min-id member, whose
    // vector is joined back from the ONE representative row per group
    // (scalars-only windows above keep the cache free of duplicate
    // vectors; this join shuffles hot rows only)
    val reps = marked
      .filter(col("__scnt") > maxBucket && col("__id") === col("__repid"))
      .select(col("__bk"), col("__sb"), col("__v").as("__repv"),
        col("__nrm").as("__repnrm"))
    val hotStar = marked
      .filter(col("__scnt") > maxBucket && col("__id") =!= col("__repid"))
      .join(reps, Seq("__bk", "__sb"))
      .select(col("__repid").as("id1"), col("__id").as("id2"),
        cosOf(ArrayMath.dot(col("__repv"), col("__v")),
          col("__repnrm"), col("__nrm")).as("cos"))
    allPairs.union(hotStar)
      .filter(col("cos") >= threshold)
  }

  /** Multi-probe companion of [[cosineNearDups]] for k-means-cell
    * bucketing — closes the CELL-STRADDLE recall gap (VERDICT r12 #4):
    * a near-dup pair split across a cell boundary is invisible to
    * single-cell bucketing (measured 0.46% of planted pairs at 2M
    * vectors), the one recall loss the planted fixtures attribute to
    * geometry rather than candidate generation. Each row keeps ONE
    * primary cell (nearest centroid) and additionally PROBES its
    * `nprobe - 1` next-nearest cells: a pair is a candidate when either
    * row's probe list contains the other's primary cell. This goes
    * BEYOND SemDeDup (arXiv:2303.09540), which probes one cell only.
    *
    * Plan shape at 100 TB: the nprobe nearest cells are ranked ONCE per
    * row and persisted as a compact (id, vec, cells, norm) projection
    * that feeds the primary stage, the fan side, and the straddle prim
    * side (one k·d assignment pass where the pre-r17 shape paid three;
    * same session-cache contract as the banded frames — object doc).
    * The primary stage is [[cosineNearDups]] unchanged (hot-cell
    * sub-bucket degrade included); the straddle stage joins the
    * (nprobe−1)-fanned secondary side against the primary-keyed side,
    * so pair cost grows ×(nprobe−1) relative to the primary stage, NOT
    * ×nprobe² (the corpus is never fanned on both sides). The primary side of the straddle join is capped at
    * `maxBucket` lowest-id rows per (cell, 8-bit LSH sign sub-bucket) —
    * the [[semDedupAgainst]] flood guard, so a boilerplate flood cannot
    * multiply every straddling row by its whole cell. Both directions
    * of a straddle pair can fire; they collapse to one row (cosine is
    * deterministic per pair, so max() is a no-op numerically). Straddle
    * pairs have distinct primaries by construction (a row's probe list
    * excludes its own primary), so the union with the primary stage is
    * duplicate-free.
    *
    * `nprobe = 1` returns the primary stage alone — bit-identical to
    * [[cosineNearDups]] under the same cell column, which keeps the
    * mtp=0 oracle rows and every recorded scale table unchanged. */
  def cosineNearDupsMultiProbe(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      centroids: Array[Array[Double]], nprobe: Int, roundDp: Int = 6,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import graft.functions.ArrayMath
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe must be in [1, ${centroids.length}], got $nprobe")
    val vec = col(vecCol).cast("array<double>")
    if (nprobe == 1)
      cosineNearDups(emb, idCol, vecCol, threshold,
        graft.ops.Similarity.ivfCell(vec, centroids, roundDp), roundDp,
        maxBucket)
    else {
      // ONE cell-assignment pass for all three consumers (r16 "not yet
      // optimized" #2): the primary stage's argmin, the fan side's
      // ranked probe list, and the straddle prim side each re-derived
      // cells from the raw vectors — two redundant k·d passes per row
      // at scale (k grows with the corpus like an IVF cell count). Rank
      // the nprobe nearest cells ONCE, persist the compact (id, vec,
      // cells, norm) projection, and let every consumer read it:
      // element_at(cells, 1) IS the primary cell (ivfCells shares
      // ivfCell's round-before-argmin and lowest-cell-id tie rules —
      // an IndexExpressionsSpec property pins the identity over random
      // vectors, ties included), so the pair set is
      // bit-identical to the re-derived form. The norm rides along so
      // the fan side no longer recomputes it per exploded probe row.
      val base = emb.select(col(idCol).as("__id"), vec.as("__v"),
          graft.ops.Similarity.ivfCells(vec, centroids, nprobe, roundDp)
            .as("__cells"))
        .withColumn("__nrm", sqrt(ArrayMath.dot(col("__v"), col("__v"))))
        .persist(MEMORY_AND_DISK)
      val primary = cosineNearDups(base, "__id", "__v", threshold,
        element_at(col("__cells"), 1), roundDp, maxBucket)
      // fan side: secondary probes only (ivfCells is nearest-first, so
      // slice from position 2 — position 1 IS the primary and its pairs
      // already came from the primary stage)
      val fan = base.select(col("__id").as("__fid"), col("__v").as("__fv"),
        col("__nrm").as("__fn"),
        explode(slice(col("__cells"), 2, nprobe - 1)).as("__cell"))
      // primary side, flood-capped per (cell, sign sub-bucket) — the
      // semDedupAgainst guard verbatim (same disjoint plane family:
      // offset 32, so a caller's offset-0 bucket bits can't alias it)
      val subKey = graft.ops.Similarity.lshBucket(
        col("__pv"), dim = 4096, nBits = 8, planeOffset = 32)
      val wc = Window.partitionBy("__cell")
      val wr = Window.partitionBy("__cell", "__sb").orderBy("__pid")
      val prim = base.select(col("__id").as("__pid"), col("__v").as("__pv"),
          col("__nrm").as("__pn"), element_at(col("__cells"), 1).as("__cell"))
        .withColumn("__ccnt", count(lit(1)).over(wc))
        .withColumn("__sb",
          when(col("__ccnt") > maxBucket, subKey).otherwise(lit(-1)))
        .withColumn("__rn", row_number().over(wr))
        .filter(col("__rn") <= maxBucket)
        .drop("__rn", "__sb", "__ccnt")
      // zero-norm guard: null cosine drops at the threshold filter —
      // the cosineNearDups contract ("a zero vector is similar to
      // nothing"; DuckDB's 0/0 → NULL agrees)
      val cos = round(
        when(col("__fn") * col("__pn") =!= 0.0,
          ArrayMath.dot(col("__fv"), col("__pv")) /
            (col("__fn") * col("__pn"))), roundDp)
      val straddle = fan.join(prim, Seq("__cell"))
        .filter(col("__fid") =!= col("__pid"))
        .select(least(col("__fid"), col("__pid")).as("id1"),
          greatest(col("__fid"), col("__pid")).as("id2"), cos.as("cos"))
        .filter(col("cos") >= threshold)
        .groupBy(col("id1"), col("id2"))
        .agg(max(col("cos")).as("cos"))
      primary.union(straddle)
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with k-means
    * centroids, compare ONLY within a cluster (cosine >= `threshold`
    * marks a semantic duplicate pair), form connected components over
    * those pairs, and keep one representative (the min-id row) per
    * component. Returns the kept rows of `emb` (all columns).
    *
    * 100 TB shape — the whole point of the paper's clustering step: the
    * per-row cell assignment is one broadcast-centroid codegen'd
    * projection ([[graft.ops.Similarity.ivfCell]]), the pairwise stage is
    * bucketed by cell (k centroids bound every bucket to ~n/k rows, and
    * k scales with the corpus exactly as an IVF index's cell count
    * does), and component formation iterates on the PAIR graph only
    * ([[clusterPairs]] via [[keepOnePerCluster]]). No all-pairs stage
    * anywhere; shuffles carry ids + cells, never text.
    *
    * Determinism: cell argmin and cosine are rounded to `roundDp` before
    * any comparison (the cross-engine exactness rule every similarity
    * query here follows), and the representative choice (min id) is
    * order-free — reruns and other engines keep the same rows.
    *
    * Cache lifecycle: inherits [[keepOnePerCluster]]'s contract — the
    * cluster label table stays session-cached on the distributed path
    * (none is cached on the local endgame); batch loops should manage
    * the [[clusterPairs]] handle directly.
    *
    * Hot cells inherit [[cosineNearDups]]'s cell-aware `maxBucket`
    * degrade (LSH sub-buckets, then per-sub-bucket star) — SemDeDup's
    * own motivating case is a boilerplate-embedding flood, which lands
    * in ONE cell; sub-bucketing keeps EVERY flood's components intact
    * (not just the one containing the cell's min-id row) while bounding
    * the within-cell join.
    *
    * `nprobe` (multi-probe straddle recovery, cost ×(nprobe−1) on the
    * straddle stage only): measured on the 2M-vector planted fixture at
    * τ=0.95 (50,000 ground-truth pairs, FIXTURES.md §4) — nprobe=1
    * recall 0.99536, nprobe=2 **0.99996**, nprobe=3 **1.0** (the last
    * two misses are rank-3 straddles), zero false positives at every
    * setting. RECOMMENDED PRODUCTION SETTING: **2** — it closes 99.6%
    * of the straddle gap for one extra probe per row, while 3 buys the
    * final 2-in-50,000 at another straddle-stage pass; keep 1 only when
    * bit-compatibility with pre-r13 recorded runs matters. The
    * `semdedup_np2` bench row prices the nprobe=2 delta continuously. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double,
      roundDp: Int = 6, maxIter: Int = 25,
      maxBucket: Int = DefaultMaxBucket, nprobe: Int = 1): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    // nprobe > 1 closes the cell-straddle recall gap via
    // [[cosineNearDupsMultiProbe]]; the default 1 is the paper's
    // one-cell regime and bit-identical to every recorded scale table
    val pairs = cosineNearDupsMultiProbe(emb, idCol, vecCol, threshold,
      centroids, nprobe, roundDp, maxBucket)
    keepOnePerCluster(emb, idCol, pairs, maxIter = maxIter)
  }

  /** Incremental (asymmetric) semantic dedup — the daily-ingest twin of
    * [[semDedup]], completing the incremental family ([[exactMatchesAgainst]],
    * [[minhashCandidatesAgainst]]) for the embedding path: (new_id,
    * ref_id, cos) pairs where a NEW-batch row has cosine >= `threshold`
    * to a REFERENCE-corpus row sharing its k-means cell. A pipeline
    * anti-joins `new_id` out of the batch (drop near-dups of existing
    * data) or feeds the pairs to policy code (e.g. replace-if-newer).
    *
    * 100 TB shape: both sides take their cell from ONE shared broadcast
    * centroid table (a single codegen'd argmin projection per side —
    * the reference side's cells are recomputed here for self-containment;
    * a production loop persists the reference (id, cell, vec) projection
    * once and reuses it across batches). The join is cell-bucketed, so
    * pairwise work is bounded by cell occupancy, and shuffles carry ids +
    * vectors only.
    *
    * Hot-cell guard (asymmetric, the [[minhashCandidatesAgainst]]
    * pattern made cell-aware): the REFERENCE side keeps only its
    * `maxBucket` lowest-id rows per (cell, 8-bit LSH sub-bucket) — a
    * boilerplate flood in the reference otherwise multiplies every
    * matching new row by the whole flood. The cap is per SUB-bucket,
    * not per cell, because a k-means cell holds dissimilar rows by
    * design: a per-cell lowest-id cap could retain only flood A and
    * silently drop every member of flood B sharing the cell — a new
    * row duplicating B would then get NO pair. Similar rows share the
    * sign key, so every flood keeps up to `maxBucket` members and every
    * new row's duplicate-or-not verdict survives; the NEW side is never
    * capped. Worst-case retained rows per cell are 256·maxBucket (a
    * cell spanning all sign patterns is diverse, not a flood). Cosine
    * is rounded to `roundDp` before the threshold test (cross-engine
    * exactness). */
  def semDedupAgainst(
      newDf: DataFrame, refDf: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double,
      roundDp: Int = 6, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import graft.functions.MathFunctions.cosineSim
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val cell = graft.ops.Similarity.ivfCell(
      col(vecCol).cast("array<double>"), centroids, roundDp)
    val n = newDf.select(col(idCol).as("__nid"),
      col(vecCol).cast("array<double>").as("__nv"), cell.as("__cell")).as("n")
    // same disjoint plane family as cosineNearDups' sub-key (offset 32);
    // computed only for rows in cells ABOVE the cap — in a cell at or
    // under maxBucket no (cell, sb) group can exceed the cap either, so
    // the retained set is provably identical and the 8-projection key
    // would be pure waste on the (100 TB-scale) reference corpus. Both
    // windows cluster by __cell, so the gate count shares one exchange.
    val subKey = graft.ops.Similarity.lshBucket(
      col("__rv"), dim = 4096, nBits = 8, planeOffset = 32)
    val wc = Window.partitionBy("__cell")
    val wr = Window.partitionBy("__cell", "__sb").orderBy("__rid")
    val r = refDf.select(col(idCol).as("__rid"),
        col(vecCol).cast("array<double>").as("__rv"), cell.as("__cell"))
      .withColumn("__ccnt", count(lit(1)).over(wc))
      .withColumn("__sb",
        when(col("__ccnt") > maxBucket, subKey).otherwise(lit(-1)))
      .withColumn("__rn", row_number().over(wr))
      .filter(col("__rn") <= maxBucket)
      .drop("__rn", "__sb", "__ccnt").as("r")
    n.join(r, col("n.__cell") === col("r.__cell"))
      .select(col("__nid").as("new_id"), col("__rid").as("ref_id"),
        // zero-norm guard (the cosineNearDups contract): cosineSim is
        // NaN on 0/0 and Spark compares NaN GREATER than any number, so
        // an unguarded >= would mark a zero-embedding row as duplicate
        // of every retained reference row in its cell; nanvl(_, null)
        // makes the filter drop it — "a zero vector is similar to
        // nothing", and DuckDB's 0/0 → NULL agrees
        nanvl(round(cosineSim(col("__nv"), col("__rv")), roundDp),
          lit(null).cast("double")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Semantic benchmark decontamination — the embedding twin of
    * [[ngramContaminated]]: ids of `corpus` docs whose embedding has
    * cosine >= `threshold` to ANY `reference` (eval-set) row. n-gram
    * decontamination misses PARAPHRASED leakage — an eval question
    * reworded for a crawl page shares no 3-gram but sits next to it in
    * embedding space; pipelines run both and union the ids.
    *
    * Candidates are restricted to rows sharing `bucketCol` (an LSH
    * bucket, [[graft.ops.Similarity.lshBucket]] — same recall contract
    * as every LSH path here: a true hit in a non-colliding bucket is
    * missed, mitigated by fewer bits or multi-table unioning). 100 TB
    * shape: the reference side is an eval set — thousands of rows
    * against a corpus of billions — so it ships as a broadcast and the
    * whole op is ONE corpus scan + a broadcast semi-join; no shuffle of
    * the corpus, no pair materialization (the semi-join short-circuits
    * on the first matching reference row). Cosine is rounded to
    * `roundDp` before the threshold test (cross-engine exactness). */
  /** The reference-side projection and hit condition shared by
    * [[cosineContaminated]] (semi-join) and [[cosineCleanStream]]
    * (anti-join) — ONE copy of the zero-norm guard and rounding, so the
    * two verdicts cannot drift: NaN cosine (0/0) compares GREATER than
    * the threshold under Spark's nanSafeCompare, which would flag a
    * zero-embedding doc as contaminated by ANY bucket neighbor;
    * nanvl(_, null) makes the predicate false instead (DuckDB's
    * 0/0 → NULL agrees). */
  private def cosineRefSide(reference: DataFrame, vecCol: String,
      bucketCol: Column): DataFrame =
    reference.select(
      col(vecCol).cast("array<double>").as("__rv"), bucketCol.as("__rbk"))

  private def cosineHitCond(threshold: Double, roundDp: Int): Column = {
    import graft.functions.MathFunctions.cosineSim
    col("__bk") === col("__rbk") &&
      nanvl(round(cosineSim(col("__cv"), col("__rv")), roundDp),
        lit(null).cast("double")) >= threshold
  }

  def cosineContaminated(
      corpus: DataFrame, reference: DataFrame, idCol: String,
      vecCol: String, threshold: Double, bucketCol: Column,
      roundDp: Int = 6): DataFrame = {
    val c = corpus.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__cv"), bucketCol.as("__bk"))
    c.join(broadcast(cosineRefSide(reference, vecCol, bucketCol)),
        cosineHitCond(threshold, roundDp), "left_semi")
      .select(col("__id").as(idCol))
  }

  /** STREAMING twin of [[cosineContaminated]] — ingest-time semantic
    * decontamination: pass through only the docs of a micro-batch
    * stream whose embedding is NOT within cosine `threshold` of any
    * reference (eval-set) row sharing `bucketCol`, keeping ALL their
    * columns ([[minhashCleanStream]] is the text-side twin). Same
    * candidate restriction and recall contract as the batch form, and
    * the same zero-norm guard (NaN cosine → NULL predicate: a
    * zero-embedding doc is similar to nothing and passes as clean).
    *
    * Why this is streaming-legal with no watermark: per-row bucketing
    * is a stateless expression (e.g. [[graft.ops.Similarity.lshBucket]]
    * reads its planes from a broadcast), and the verdict is ONE
    * broadcast stream-static LEFT ANTI join — each micro-batch joins
    * only its own rows against the broadcast eval set, every doc
    * appears at most once, nothing is stateful. The static side is
    * re-resolved per micro-batch, so a refreshed eval set is picked up
    * without restarting the stream. */
  def cosineCleanStream(newStream: DataFrame, reference: DataFrame,
      vecCol: String, threshold: Double, bucketCol: Column,
      roundDp: Int = 6): DataFrame = {
    requireNoReservedCols(newStream, Seq("__cv", "__bk"), "cosineCleanStream")
    newStream
      .withColumn("__cv", col(vecCol).cast("array<double>"))
      .withColumn("__bk", bucketCol)
      .join(broadcast(cosineRefSide(reference, vecCol, bucketCol)),
        cosineHitCond(threshold, roundDp), "left_anti")
      .drop("__cv", "__bk")
  }

  /** Benchmark decontamination: ids of `corpus` docs that share ANY token
    * `n`-gram with any `reference` doc (the held-out benchmark / eval
    * set). A training pipeline anti-joins these ids out of the corpus so
    * eval data cannot leak into training.
    *
    * 100 TB shape: one shingle projection per side, the reference side
    * collapsed to a DISTINCT shingle set (benchmarks are tiny vs the
    * corpus — typically broadcastable), then a semi-join on the shingle
    * string — shuffles carry shingles + ids only, never document text.
    * `maxDf` (optional) drops corpus shingles whose document frequency
    * exceeds it BEFORE the join — at corpus scale a stop-phrase n-gram
    * matches everything and would both blow up the shuffle and flag half
    * the corpus on boilerplate; decontamination should trigger on RARE
    * n-grams. Default keeps all shingles (exact). */
  def ngramContaminated(
      corpus: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, n: Int = 3, maxDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 1 && n <= 16,
      s"n must be in [1, 16] (the token_ngrams kernel bound), got $n")
    // shingle windows come from the fused token_ngrams kernel (one
    // split + one walk in codegen) — the composed transform form was
    // interpreted and ~linear-but-slower; see TokenLm.tokenNgrams
    def shingled(df: DataFrame): DataFrame =
      df.select(col(idCol).as("__id"),
        explode(array_distinct(TokenLm.tokenNgrams(col(textCol), n))).as("__sh"))
    val c0 = shingled(corpus)
    val c = if (maxDf == Long.MaxValue) c0 else capHotKeys(c0, "__sh", maxDf)
    val r = shingled(reference).select(col("__sh")).distinct()
    c.join(r, Seq("__sh"), "left_semi")
      .select(col("__id").as(idCol))
      .distinct()
  }

  /** Document frequency of each value in an exploded key column — the
    * hot-key guard for shingle-bucketed joins: drop shingles whose df
    * exceeds `maxDf` BEFORE any self-join (a stop-phrase shingle shared
    * by 1% of a 100 TB corpus otherwise produces a quadratic pair
    * blow-up in one bucket). The MinHash-LSH path (minhashCandidates)
    * is the blessed scale path and does not need this; raw shingle
    * joins (q35-style) do. */
  def capHotKeys(exploded: DataFrame, keyCol: String, maxDf: Long): DataFrame = {
    val dfreq = exploded.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col(keyCol))
    exploded.join(dfreq, Seq(keyCol), "left_semi")
  }
}
