package graft.queries

import org.apache.spark.sql.functions._
import Queries._

/** Text-analysis + deduplication operators over `documents` — the
  * training-data-pipeline surface (north star): token counting, quality
  * scoring, language ID, fingerprinting, exact + n-gram-Jaccard dedup.
  * All integer/string/ratio-of-integer outputs → exact DuckDB oracles.
  *
  * Scale design: everything is per-row (embarrassingly parallel) or a
  * key-grouped aggregation; the Jaccard pair-join is shingle-bucketed
  * (join on shingle hash, group by pair) — the standard 100 TB shape.
  */
object TextQueries {

  // whitespace tokenization shared by all queries
  private def toksCol = split(col("text"), " +")

  /** q134's Misra–Gries sketch width, overridable via
    * SPARK_GRAFT_TOPK_SKETCH (the SPARK_GRAFT_SEMDEDUP_TAU pattern:
    * read once at object init, default keeps the driver's gate
    * bit-identical). The 832 default certifies the top-20 at the
    * sf0.01/sf0.1 gates; at a 10× corpus with disjoint replica
    * vocabularies the heavy-hitter mass does NOT scale with n, so the
    * certification guard correctly refuses at 832 and the sweep sets
    * the width the refusal message itself prescribes (topK's bound:
    * sketchSize ≥ n / rank-k count). Declared before `qs` — a later
    * val reads as 0 at object init. */
  private val topkSketchSize: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_TOPK_SKETCH", "832")
    val v = raw.toInt
    require(v >= 20, s"SPARK_GRAFT_TOPK_SKETCH must be >= k=20, got $raw")
    v
  }

  /** Frozen merge table for the q140 BPE-encode oracle — the pinned
    * persisted-model pattern (q66 centroids / q99 codebooks / q138
    * rotation): encoding against a frozen rank table is the production
    * contract ([[graft.ops.Bpe.saveMerges]]/loadMerges), and unlike the
    * iterative trainer it IS static-SQL-replayable. Hand-picked against
    * the fixture vocabulary so rank priority, multi-step chains,
    * end-of-word merges, identical-adjacent pairs, and dead merges all
    * fire. */
  private[graft] val bpeFrozenMerges: Array[(String, String)] = Array(
    ("a", "</w>"),      // 0: beats (t,a) inside 'data' — rank priority
    ("t", "a"),         // 1: 'table' chain step 1
    ("l", "e"),         // 2
    ("ta", "b"),        // 3
    ("tab", "le"),      // 4
    ("table", "</w>"),  // 5: whole-word token
    ("a", "n"),         // 6: 'scan' chain
    ("r", "o"),         // 7
    ("ro", "w"),        // 8
    ("s", "c"),         // 9
    ("sc", "an"),       // 10
    ("scan", "</w>"),   // 11
    ("e", "</w>"),      // 12: word-final e
    ("g", "g"),         // 13: identical-adjacent pair ('agg')
    ("x", "y"))         // 14: dead merge — never fires

  private def bpeFrozenMergesSqlValues: String =
    bpeFrozenMerges.zipWithIndex
      .map { case ((a, b), r) => s"($r, '$a', '$b')" }
      .mkString(", ")

  /** Merge-prefix length replayed by the q145 trainer oracle. Declared
    * before `qs` — the oracle string reads it at object init. 200 steps
    * (VERDICT r13 #6, raised from 64): 200 is q123's OWN numMerges cap,
    * so the oracled prefix now covers every merge the q123 trainer can
    * ever select and the rows-only tail is EMPTY by construction at
    * every scale. Measured realized counts (docs/ROUND14.md): the
    * sf0.01 gate early-stops at 106 merges (31-word vocab — the
    * oracle's empty-m_i rows replay the stopped tail exactly), while
    * sf1 (274-word vocab) and sf10 (2,704) both hit the 200 cap — no
    * smaller k covers them. The unroll stays linear in k; replay walls
    * are recorded per sweep. Steps exercise count-ranked selection,
    * code-point-order tie-breaks, and multi-generation merges (merged
    * symbols re-entering later pair counts). */
  private[graft] val BpeTrainPrefixK = 200

  /** Unrolled greedy-merge replay for the q145 BPE-trainer prefix
    * oracle (VERDICT r9 #3 / r11 #4): DuckDB re-derives the first k
    * merge selections from raw pair counts, one CTE block per step —
    * the same unroll-the-iteration pattern as ccLabelPropCtes. Step i:
    *   p_i  pair counts over the current symbol table, weighted by word
    *        frequency, HAVING >= 2 (the trainer's compression stop);
    *   b_i  the argmax under the trainer's total order (count DESC,
    *        then pair lexicographic ASC; DuckDB's default collation is
    *        UTF-8 binary == code-point order, and Bpe.trainLocal breaks
    *        ties via cpCompare in the SAME order — not Java's UTF-16
    *        code-unit order, which diverges for supplementary-plane
    *        symbols vs U+E000–U+FFFF) — MATERIALIZED, read twice;
    *   m_i  that step's (rank, a, b) output row (empty after early stop,
    *        so a short training run agrees on the shorter prefix);
    *   w_i+1 one left-to-right non-overlapping application of the step's
    *        pair via REPLACE over the CHR(1)-wrapped symbol string (the
    *        boundary-safe encoding proven by the q140 encode oracle) —
    *        exactly Bpe.trainLocal's single in-word merge pass.
    * Words carry their counts unchanged throughout, so pair counts at
    * step i+1 see every symbol the step-i merge created. */
  private[graft] def bpeTrainPrefixCtes(k: Int): String = {
    require(k >= 1, s"k must be >= 1, got $k")
    def step(i: Int): String =
      s"""p$i AS (
         SELECT tk[CAST(j + 1 AS INTEGER)] AS a,
                tk[CAST(j + 2 AS INTEGER)] AS b, SUM(c) AS n
         FROM (SELECT c, LIST_FILTER(STRING_SPLIT(s, CHR(1)), t -> t <> '') AS tk
               FROM w$i) ws,
              UNNEST(RANGE(0, LEN(tk) - 1)) u(j)
         GROUP BY 1, 2 HAVING SUM(c) >= 2),
       b$i AS MATERIALIZED (
         SELECT a, b FROM p$i ORDER BY n DESC, a ASC, b ASC LIMIT 1),
       m$i AS (SELECT $i AS rank, a, b FROM b$i),
       w${i + 1} AS MATERIALIZED (
         SELECT w.word, w.c,
           CASE WHEN b.a IS NULL THEN w.s
                ELSE REPLACE(w.s,
                  CHR(1) || b.a || CHR(1) || CHR(1) || b.b || CHR(1),
                  CHR(1) || b.a || b.b || CHR(1)) END AS s
         FROM w$i w LEFT JOIN b$i b ON TRUE)"""
    (0 until k).map(step).mkString(",\n        ")
  }

  val qs: Seq[Q] = Seq(
    // ---- token counting (whitespace); char counts
    Q("q30_token_stats",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(
            col("doc_id"),
            size(toksCol).as("n_tokens"),
            length(col("text")).as("text_len"),
            size(array_distinct(toksCol)).as("n_unique"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
          CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, ' +')) AS INTEGER) AS n_tokens,
          CAST(LENGTH(text) AS INTEGER) AS text_len,
          CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(text, ' +'))) AS INTEGER) AS n_unique
        FROM documents ORDER BY doc_id"""),
      bench = true),

    // ---- quality scoring: type-token ratio, mean token length, stopword
    // ratio (ratios of exact ints → identical doubles)
    Q("q31_quality",
      (s, dir) => {
        val toks = toksCol
        val nTok = size(toks)
        val stop = size(filter(toks, t => t.isin("the", "a", "of", "and")))
        tbl(s, dir, "documents")
          .select(
            col("doc_id"),
            (size(array_distinct(toks)).cast("double") / nTok).as("ttr"),
            ((length(col("text")) - nTok + 1).cast("double") / nTok).as("mean_tok_len"),
            (stop.cast("double") / nTok).as("stop_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS ttr,
          CAST(LENGTH(text) - LEN(toks) + 1 AS DOUBLE) / LEN(toks) AS mean_tok_len,
          CAST(LEN(LIST_FILTER(toks, t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE) / LEN(toks) AS stop_ratio
        FROM (SELECT doc_id, text, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks FROM documents)
        ORDER BY doc_id""")),

    // ---- language ID: stopword-hit heuristic vs the labeled lang column
    Q("q32_langid",
      (s, dir) => {
        val toks = toksCol
        val enHits = size(filter(toks, t => t.isin("the", "a", "and", "of", "fast", "slow")))
        tbl(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            when(enHits > 0, "en").otherwise("unknown").as("guess"))
          .withColumn("match", (col("guess") === col("lang")).cast("int"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
          CASE WHEN LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, ' +'),
            t -> t IN ('the', 'a', 'and', 'of', 'fast', 'slow'))) > 0
            THEN 'en' ELSE 'unknown' END AS guess,
          CAST(CASE WHEN (CASE WHEN LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, ' +'),
            t -> t IN ('the', 'a', 'and', 'of', 'fast', 'slow'))) > 0
            THEN 'en' ELSE 'unknown' END) = lang THEN 1 ELSE 0 END AS INTEGER) AS match
        FROM documents ORDER BY doc_id""")),

    // ---- document fingerprinting: md5 content hash (cross-engine exact)
    Q("q33_fingerprint",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some("SELECT doc_id, MD5(text) AS fp FROM documents ORDER BY doc_id")),

    // ---- exact dedup: hash-groupBy on content (SURVEY north star #1);
    // emits one row per distinct text with the min doc_id as keeper
    Q("q34_dedup_exact",
      (s, dir) =>
        tbl(s, dir, "documents")
          .groupBy(md5(col("text")).as("fp"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
          .orderBy("keeper"),
      Some("""SELECT MD5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        FROM documents GROUP BY MD5(text) ORDER BY keeper"""),
      bench = true),

    // ---- n-gram Jaccard near-dup: 2-token shingles, shingle-bucket join
    // (distinct shingles → pair counts → |A∩B| / (|A|+|B|−|A∩B|)),
    // restricted to doc_id<100 for the oracle run. Shingles with document
    // frequency > 20 are dropped BEFORE the self-join (Dedup.capHotKeys):
    // a stop-phrase shingle shared by 1% of a 100 TB corpus otherwise
    // produces a quadratic pair blow-up in one bucket — standard LSH
    // practice; the MinHash-LSH path (q45) is the blessed scale path.
    // Sizes are computed from the capped set so jaccard stays consistent.
    Q("q35_ngram_jaccard",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").filter(col("doc_id") < 100)
        // fused token_ngrams kernel (one split + walk in codegen) —
        // replaced the interpreted transform composition
        val shRaw = docs.select(col("doc_id"),
          explode(array_distinct(
            graft.ops.TokenLm.tokenNgrams(col("text"), 2))).as("shingle"))
        val sh = graft.ops.Dedup.capHotKeys(shRaw, "shingle", maxDf = 20)
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val a = sh.as("a"); val b = sh.as("b")
        val pairs = a.join(b, col("a.shingle") === col("b.shingle")
            && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("common"))
        pairs
          .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n_sh", "n1"), "d1")
          .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n_sh", "n2"), "d2")
          .select(col("d1"), col("d2"),
            (col("common").cast("double") /
              (col("n1") + col("n2") - col("common"))).as("jaccard"))
          .filter(col("jaccard") >= 0.05)
          .orderBy("d1", "d2")
      },
      Some("""WITH sh_raw AS (
          SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
              toks[i] || ' ' || toks[i+1] AS shingle
            FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
                  FROM documents WHERE doc_id < 100),
            UNNEST(RANGE(1, LEN(toks))) AS t(i))
        ), sh AS (
          SELECT doc_id, shingle FROM sh_raw
          WHERE shingle IN (SELECT shingle FROM sh_raw GROUP BY shingle HAVING COUNT(*) <= 20)
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
          CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) AS jaccard
        FROM pairs
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE CAST(common AS DOUBLE) / (s1.n_sh + s2.n_sh - common) >= 0.05
        ORDER BY d1, d2""")),

    // ---- corpus term frequencies: explode → group → top terms
    Q("q38_term_freq",
      (s, dir) =>
        tbl(s, dir, "documents")
          .select(explode(toksCol).as("term"))
          .groupBy("term")
          .agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("term").asc)
          .limit(20),
      Some("""SELECT term, COUNT(*) AS tf
        FROM (SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' +')) AS term FROM documents)
        GROUP BY term ORDER BY tf DESC, term ASC LIMIT 20""")),

    // ---- TF-IDF weights: tf · ln(N/df), rounded to absorb ln() ulps
    Q("q39_tfidf",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val terms = docs.select(col("doc_id"), explode(toksCol).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df_ = terms.select("doc_id", "term").distinct()
          .groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.select(count(lit(1)).as("n_docs"))
        tf.join(df_, "term").crossJoin(broadcast(n))
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
          .orderBy("doc_id", "term")
      },
      Some("""WITH terms AS (
          SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' +')) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        dfc AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, tf.term AS term, ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        FROM tf JOIN dfc ON tf.term = dfc.term, n
        WHERE doc_id < 50 ORDER BY doc_id, term""")),

    // ---- regex tokenization (BPE-ish): alpha-run word tokens plus a
    // greedy ≤4-char subword segmentation — the crude-BPE shape a
    // training-data pipeline uses for token accounting. Plain character
    // classes + greedy quantifiers behave identically in Java regex
    // (Spark) and RE2 (DuckDB).
    Q("q68_regex_tokens",
      (s, dir) =>
        tbl(s, dir, "documents").select(
            col("doc_id"),
            size(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("n_words"),
            size(array_distinct(expr("regexp_extract_all(text, '[a-z]+', 0)")))
              .as("n_uniq_words"),
            size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("n_subtokens"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
          CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+')) AS INTEGER) AS n_words,
          CAST(LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(text, '[a-z]+'))) AS INTEGER) AS n_uniq_words,
          CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]{1,4}')) AS INTEGER) AS n_subtokens
        FROM documents ORDER BY doc_id""")),

    // ---- rolling-hash fingerprint (Rabin 8-gram windows + min-hash
    // winnowing): h(i) = Σ_k c_{i+k}·131^k over every 8-char window, doc
    // fingerprint = min window hash. Pure 64-bit integer math (131^7 ≈
    // 6.6e14 is exact in both engines' POWER→BIGINT) → exact oracle.
    // The rolling window is the content-defined-chunking primitive a
    // dedup pipeline uses to find shifted duplicates that fixed shingles
    // miss. Per-row projection, no shuffle.
    Q("q70_rolling_fp",
      (s, dir) =>
        tbl(s, dir, "documents")
          .withColumn("ws", expr(
            """transform(sequence(1, length(text) - 7),
                 i -> aggregate(sequence(0, 7), 0L,
                   (acc, k) -> acc + cast(ascii(substr(text, i + k, 1)) as long)
                     * cast(pow(131, k) as long)))"""))
          .filter(length(col("text")) >= 8)
          .select(col("doc_id"),
            array_min(col("ws")).as("fp"),
            size(col("ws")).as("n_win"),
            size(array_distinct(col("ws"))).as("n_uniq"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
          CAST(LIST_MIN(ws) AS BIGINT) AS fp,
          CAST(LEN(ws) AS INTEGER) AS n_win,
          CAST(LEN(LIST_DISTINCT(ws)) AS INTEGER) AS n_uniq
        FROM (SELECT doc_id,
            LIST_TRANSFORM(RANGE(1, LENGTH(text) - 6),
              i -> CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 8),
                k -> CAST(ASCII(SUBSTR(text, i + k, 1)) AS BIGINT)
                  * CAST(POWER(131, k) AS BIGINT))) AS BIGINT)) AS ws
          FROM documents WHERE LENGTH(text) >= 8)
        ORDER BY doc_id""")),

    // ---- positional explode (ordinal-preserving UNNEST): token position
    // survives the explode — the shape windowed shingling and alignment
    // joins build on. Spark pos is 0-based, DuckDB ordinality 1-based →
    // emitted as 1-based on both sides.
    Q("q75_posexplode",
      (s, dir) =>
        tbl(s, dir, "documents").filter(col("doc_id") < 20)
          .select(col("doc_id"), posexplode(toksCol).as(Seq("pos0", "tok")))
          .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
          .orderBy("doc_id", "pos"),
      Some("""SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[i] AS tok
        FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
              FROM documents WHERE doc_id < 20),
          UNNEST(RANGE(1, LEN(toks) + 1)) AS t(i)
        ORDER BY doc_id, pos""")),

    // ---- array-function breadth over token arrays: slice / position /
    // sort / flatten / contains — the list-manipulation surface a
    // pipeline uses between tokenize and join. 1-based slice and
    // position semantics align across engines; absent-position
    // normalized to 0 (Spark convention).
    Q("q77_array_funcs",
      (s, dir) => {
        val toks = toksCol
        tbl(s, dir, "documents").filter(col("doc_id") < 20)
          .select(col("doc_id"),
            concat_ws(",", slice(toks, 2, 3)).as("mid3"),
            expr("array_position(split(text, ' +'), 'the')").cast("int").as("pos_the"),
            concat_ws(",", slice(sort_array(toks), 1, 5)).as("sorted5"),
            size(flatten(array(toks, toks))).as("n_doubled"),
            array_contains(toks, "data").cast("int").as("has_data"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          ARRAY_TO_STRING(toks[2:4], ',') AS mid3,
          CAST(COALESCE(LIST_POSITION(toks, 'the'), 0) AS INTEGER) AS pos_the,
          ARRAY_TO_STRING(LIST_SORT(toks)[1:5], ',') AS sorted5,
          CAST(LEN(FLATTEN([toks, toks])) AS INTEGER) AS n_doubled,
          CAST(LIST_CONTAINS(toks, 'data') AS INTEGER) AS has_data
        FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
              FROM documents WHERE doc_id < 20)
        ORDER BY doc_id""")),

    // ---- map-function breadth: per-document term-frequency MAP
    // (map_from_entries over grouped counts), then the map surface —
    // element_at lookup, size, map_filter, map_keys, map_values +
    // aggregate — reduced to scalar columns. The DuckDB twin computes
    // the same scalars straight from the token list (the oracle checks
    // VALUES, not mechanism — Spark's map ops must land on the counts
    // the list algebra defines). Map iteration order is engine-defined,
    // so only order-independent reductions are emitted.
    Q("q78_map_funcs",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").filter(col("doc_id") < 20)
        val tf = docs
          .select(col("doc_id"), explode(toksCol).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
          .groupBy("doc_id")
          .agg(map_from_entries(collect_list(struct(col("tok"), col("cnt"))))
            .as("tf"))
        tf.select(col("doc_id"),
            coalesce(element_at(col("tf"), "the"), lit(0L)).as("n_the"),
            size(col("tf")).as("n_distinct"),
            size(map_filter(col("tf"), (_, v) => v > 1)).as("n_repeated"),
            array_min(map_keys(col("tf"))).as("first_tok"),
            aggregate(map_values(col("tf")), lit(0L), (acc, v) => acc + v)
              .as("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          CAST(LEN(LIST_FILTER(toks, t -> t = 'the')) AS BIGINT) AS n_the,
          CAST(LEN(LIST_DISTINCT(toks)) AS INTEGER) AS n_distinct,
          CAST(LEN(LIST_FILTER(LIST_DISTINCT(toks),
            t -> LEN(LIST_FILTER(toks, x -> x = t)) > 1)) AS INTEGER) AS n_repeated,
          LIST_SORT(LIST_DISTINCT(toks))[1] AS first_tok,
          CAST(LEN(toks) AS BIGINT) AS n_tokens
        FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
              FROM documents WHERE doc_id < 20)
        ORDER BY doc_id""")),

    // ---- stratified per-key cap (Sampling.stratifiedCap): at most k docs
    // per language, picked deterministically by content-hash order — the
    // corpus-balancing op (reruns select the SAME rows; sample() would
    // not). One key shuffle; WindowGroupLimit bounds the per-group sort.
    Q("q84_stratified_cap",
      (s, dir) =>
        graft.ops.Sampling.stratifiedCap(
            tbl(s, dir, "documents"), Seq("lang"), k = 20,
            orderBy = Seq(md5(col("text")), col("doc_id")))
          .select(col("lang"), col("doc_id"))
          .orderBy("lang", "doc_id"),
      Some("""SELECT lang, doc_id FROM (
          SELECT lang, doc_id,
            ROW_NUMBER() OVER (PARTITION BY lang ORDER BY MD5(text), doc_id) AS rn
          FROM documents) WHERE rn <= 20
        ORDER BY lang, doc_id""")),

    // ---- Gopher-style repetition quality: fraction of 2-gram characters
    // belonging to 2-grams that repeat within the document — the classic
    // duplicated-n-gram filter for generated/boilerplate text. Pure
    // integer counts and an exactly-rounded int/int division → exact
    // oracle. Per-row explode + per-doc agg; no cross-doc shuffle of text.
    Q("q85_repetition_quality",
      (s, dir) => {
        // fused token_ngrams kernel — replaced the interpreted
        // transform composition (see Dedup.jaccardVerify history)
        val g = tbl(s, dir, "documents").filter(col("doc_id") < 200)
          .select(col("doc_id"), explode(
            graft.ops.TokenLm.tokenNgrams(col("text"), 2)).as("gram"))
          .groupBy(col("doc_id"), col("gram"))
          .agg(count(lit(1)).as("cnt"), length(col("gram")).as("len"))
        g.groupBy(col("doc_id"))
          .agg(
            sum(col("len") * col("cnt")).as("total_chars"),
            sum(when(col("cnt") > 1, col("len") * col("cnt")).otherwise(0L))
              .as("dup_chars"))
          .select(col("doc_id"),
            col("total_chars").cast("long").as("total_chars"),
            col("dup_chars").cast("long").as("dup_chars"),
            (col("dup_chars").cast("double") / col("total_chars")).as("dup2_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (
          SELECT doc_id, gram, COUNT(*) AS cnt, LENGTH(gram) AS len
          FROM (
            SELECT doc_id, UNNEST(CASE WHEN LEN(toks) >= 2 THEN
              LIST_TRANSFORM(RANGE(1, LEN(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END) AS gram
            FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
                  FROM documents WHERE doc_id < 200))
          GROUP BY doc_id, gram)
        SELECT doc_id,
          CAST(SUM(len * cnt) AS BIGINT) AS total_chars,
          CAST(SUM(CASE WHEN cnt > 1 THEN len * cnt ELSE 0 END) AS BIGINT) AS dup_chars,
          CAST(SUM(CASE WHEN cnt > 1 THEN len * cnt ELSE 0 END) AS DOUBLE)
            / SUM(len * cnt) AS dup2_frac
        FROM g GROUP BY doc_id ORDER BY doc_id""")),

    // ---- benchmark decontamination (Dedup.ngramContaminated): training
    // docs sharing ANY token 3-gram with the held-out "benchmark" slice
    // (docs 0..39 stand in for an eval set) are flagged so a pipeline can
    // anti-join them out — eval data must not leak into training. At
    // 100 TB: shingle projections + a semi-join on shingle strings; the
    // reference shingle set is benchmark-sized (broadcastable); maxDf
    // caps stop-phrase shingles (unset here so the oracle is exact).
    Q("q86_decontaminate",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.ops.Dedup.ngramContaminated(
            docs.filter(col("doc_id") >= 40), docs.filter(col("doc_id") < 40),
            "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (
          SELECT doc_id, UNNEST(LIST_DISTINCT(CASE WHEN LEN(toks) >= 3 THEN
            LIST_TRANSFORM(RANGE(1, LEN(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [] END)) AS sh
          FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
                FROM documents))
        SELECT DISTINCT c.doc_id
        FROM sh c WHERE c.doc_id >= 40
          AND c.sh IN (SELECT sh FROM sh WHERE doc_id < 40)
        ORDER BY doc_id"""),
      bench = true),

    // ---- PII redaction (Redact.redactPii): emails / phones / IPv4 →
    // typed placeholders + per-kind counts. Each doc is augmented with
    // deterministic doc_id-derived PII so every row exercises all three
    // patterns; the md5 of the redacted text proves byte-identical
    // replacement semantics cross-engine (Java regex vs RE2 — patterns
    // restricted to the agreeing subset). Pure per-row projection.
    Q("q89_pii_redact",
      (s, dir) => {
        import graft.ops.Redact
        val aug = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 555-867-5309 from 192.168.0."),
          (col("doc_id") % 256).cast("string"))
        val (ne, np, ni) = Redact.piiCounts(aug)
        tbl(s, dir, "documents")
          .select(col("doc_id"),
            md5(Redact.redactPii(aug)).as("redacted_md5"), ne, np, ni)
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
          MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(aug,
            '${graft.ops.Redact.EmailRe}', '<EMAIL>', 'g'),
            '${graft.ops.Redact.PhoneRe}', '<PHONE>', 'g'),
            '${graft.ops.Redact.Ipv4Re}', '<IP>', 'g')) AS redacted_md5,
          CAST(LEN(REGEXP_EXTRACT_ALL(aug, '${graft.ops.Redact.EmailRe}')) AS INTEGER) AS n_emails,
          CAST(LEN(REGEXP_EXTRACT_ALL(REGEXP_REPLACE(aug,
            '${graft.ops.Redact.EmailRe}', '<EMAIL>', 'g'),
            '${graft.ops.Redact.PhoneRe}')) AS INTEGER) AS n_phones,
          CAST(LEN(REGEXP_EXTRACT_ALL(REGEXP_REPLACE(REGEXP_REPLACE(aug,
            '${graft.ops.Redact.EmailRe}', '<EMAIL>', 'g'),
            '${graft.ops.Redact.PhoneRe}', '<PHONE>', 'g'),
            '${graft.ops.Redact.Ipv4Re}')) AS INTEGER) AS n_ips
        FROM (SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR) ||
            '@mail.example.com or 555-867-5309 from 192.168.0.' ||
            CAST(doc_id % 256 AS VARCHAR) AS aug
          FROM documents)
        ORDER BY doc_id""")),

    // ---- per-source corpus stats (group agg over the doc table)
    Q("q36_source_stats",
      (s, dir) =>
        tbl(s, dir, "documents")
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            max(length(col("text"))).as("max_len"))
          .orderBy("source", "lang"),
      Some("""SELECT source, lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(MAX(LENGTH(text)) AS INTEGER) AS max_len
        FROM documents GROUP BY source, lang ORDER BY source, lang""")),

    // ---- normalization-keyed exact dedup (Dedup.normalizeForDedup +
    // Dedup.exact): real corpora duplicate up to case / punctuation /
    // whitespace jitter that byte-exact keys miss — normalize first,
    // then dedup on the normalized key while KEEPING the original text.
    // The regexes stay in the character-class subset where Java and RE2
    // agree, so the normalized key is byte-identical cross-engine.
    Q("q94_normalized_dedup",
      (s, dir) => {
        val withKey = tbl(s, dir, "documents")
          .withColumn("norm_text",
            graft.ops.Dedup.normalizeForDedup(col("text")))
        graft.ops.Dedup.exact(withKey, "doc_id", Seq("norm_text"))
          .select(col("doc_id"), col("n_copies").cast("long").as("n_copies"))
          .orderBy("doc_id")
      },
      Some("""WITH k AS (
          SELECT doc_id, TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text
          FROM documents),
        keepers AS (
          SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
          FROM k GROUP BY norm_text)
        SELECT doc_id, n_copies FROM keepers ORDER BY doc_id""")),

    // ---- document chunking (Chunking.chunkTokens): overlapping token
    // windows per doc — the corpus→embedding-table step (one vector per
    // CHUNK). chunkSize 32, overlap 8 → stride 24; the last chunk may be
    // short and every doc emits at least one. Pure per-row fan-out, no
    // shuffle; integer window arithmetic → exact oracle.
    Q("q95_chunk_tokens",
      (s, dir) =>
        graft.ops.Chunking.chunkTokens(
            tbl(s, dir, "documents").filter(col("doc_id") < 50),
            "doc_id", "text", chunkSize = 32, overlap = 8)
          .orderBy("doc_id", "chunk_id"),
      Some("""WITH t AS (
          SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
          FROM documents WHERE doc_id < 50),
        c AS (
          SELECT doc_id, LEN(toks) AS n, toks,
            CASE WHEN LEN(toks) <= 32 THEN 1
                 ELSE 1 + (LEN(toks) - 32 + 23) // 24 END AS n_chunks
          FROM t)
        SELECT doc_id, CAST(n_chunks AS INTEGER) AS n_chunks,
          CAST(k AS INTEGER) AS chunk_id,
          ARRAY_TO_STRING(toks[k*24+1 : k*24+32], ' ') AS chunk_text,
          CAST(LEAST(n - k*24, 32) AS INTEGER) AS chunk_tokens
        FROM c, UNNEST(RANGE(0, n_chunks)) AS u(k)
        ORDER BY doc_id, chunk_id""")),

    // ---- ingestion text hygiene (Redact.cleanText): strip C0/C1
    // controls + DEL, fold tab/CR/LF to spaces, collapse runs, trim.
    // Each doc is augmented with deterministic doc_id-derived control
    // bytes (the q89 pattern) so every row exercises the cleanup; the
    // md5 of the cleaned text proves byte-identical semantics
    // cross-engine.
    Q("q96_clean_text",
      (s, dir) =>
        tbl(s, dir, "documents")
          .withColumn("aug", concat(col("text"), lit(" bad"),
            expr("chr(1 + doc_id % 8)"), lit("mid"), expr("chr(127)"),
            lit("\ttail\r\n"), expr("chr(11)")))
          .select(col("doc_id"),
            md5(graft.ops.Redact.cleanText(col("aug"))).as("clean_md5"),
            length(graft.ops.Redact.cleanText(col("aug")))
              .cast("int").as("clean_len"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, MD5(clean) AS clean_md5,
          CAST(LENGTH(clean) AS INTEGER) AS clean_len
        FROM (
          SELECT doc_id, TRIM(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
            text || ' bad' || CHR(CAST(1 + doc_id % 8 AS INTEGER)) ||
              'mid' || CHR(127) || CHR(9) || 'tail' || CHR(13) || CHR(10) ||
              CHR(11),
            '${graft.ops.Redact.ControlRe}', '', 'g'),
            '[\t\r\n]', ' ', 'g'),
            '  +', ' ', 'g')) AS clean
          FROM documents)
        ORDER BY doc_id""")),

    // ---- corpus-wide repeated-passage (boilerplate) detection
    // (Boilerplate.repeatedNgramStats): 5-grams appearing in >= 3
    // distinct docs are "common"; each doc reports how many of its
    // positional 5-grams are common plus a majority-boilerplate flag.
    // Pure integer outputs -> exact oracle; the md5 gram keys are
    // identical strings on both engines.
    Q("q98_repeated_ngrams",
      (s, dir) =>
        graft.ops.Boilerplate.repeatedNgramStats(
            tbl(s, dir, "documents").filter(col("doc_id") < 200),
            "doc_id", "text", n = 5, minDf = 3)
          .select(col("doc_id"), col("n_grams"), col("n_common"),
            (col("n_grams") > 0 && col("n_common") * 2 >= col("n_grams"))
              .cast("int").as("mostly_boilerplate"))
          .orderBy("doc_id"),
      Some("""WITH t AS (
          SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
          FROM documents WHERE doc_id < 200),
        g AS (
          SELECT doc_id,
            MD5(ARRAY_TO_STRING(toks[i+1 : i+5], ' ')) AS gk
          FROM t, UNNEST(RANGE(0, LEN(toks) - 5 + 1)) u(i)
          WHERE LEN(toks) >= 5),
        common AS (
          SELECT gk, 1 AS is_common FROM g
          GROUP BY gk HAVING COUNT(DISTINCT doc_id) >= 3),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_grams,
            SUM(COALESCE(is_common, 0)) AS n_common
          FROM g LEFT JOIN common USING (gk) GROUP BY doc_id)
        SELECT t.doc_id,
          CAST(COALESCE(n_grams, 0) AS INTEGER) AS n_grams,
          CAST(COALESCE(n_common, 0) AS INTEGER) AS n_common,
          CAST(CASE WHEN COALESCE(n_grams, 0) > 0
            AND COALESCE(n_common, 0) * 2 >= n_grams
            THEN 1 ELSE 0 END AS INTEGER) AS mostly_boilerplate
        FROM t LEFT JOIN agg USING (doc_id)
        ORDER BY t.doc_id""")),

    // ---- char-trigram LM perplexity scoring (CC-Net quality filter,
    // ops.CharLm): fit add-one-smoothed trigram log-probs on the
    // lang='en' slice (vocab capped at the 512 most frequent trigrams,
    // ties by trigram ASC — the cap BITES at every SF so the
    // deterministic top-K cut is itself oracle-exercised), then score
    // every document. Log-probs are fixed to integer nanonats on the
    // driver, documents sum longs (exact at any partition order), and
    // the final avg is one IEEE division + round(6) — see the CharLm
    // scaladoc for the full determinism contract.
    Q("q115_charlm_perplexity",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.CharLm.fit(graft.ops.CharLm.trainCounts(
          docs.filter(col("lang") === "en"), "text", maxVocab = 512))
        graft.ops.CharLm.score(docs, model)
          .select(col("doc_id"), col("n_tri"), col("nll_nano"), col("avg_nll"))
          .orderBy("doc_id")
      },
      Some("""WITH tri_all AS (
          SELECT substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents WHERE lang = 'en' AND LENGTH(text) >= 3)),
        kept AS (
          SELECT tri, COUNT(*) AS c FROM tri_all GROUP BY 1
          QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tri ASC) <= 512),
        st AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM kept),
        doc_tri AS (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT doc_id, text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents WHERE LENGTH(text) >= 3)),
        nano AS (
          SELECT doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(ROUND(LN((COALESCE(k.c, 0) + 1.0) / (st.t + st.v + 1)) * 1e9) AS BIGINT)) AS BIGINT) AS lp
          FROM doc_tri dt LEFT JOIN kept k USING (tri) CROSS JOIN st
          GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(COALESCE(n.n_tri, 0) AS INTEGER) AS n_tri,
          COALESCE(-n.lp, 0) AS nll_nano,
          CASE WHEN n.n_tri > 0
            THEN ROUND(CAST(-n.lp AS DOUBLE) / (CAST(n.n_tri AS DOUBLE) * 1e9), 6)
            END AS avg_nll
        FROM documents d LEFT JOIN nano n USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- streaming perplexity quality filter, batch-mode oracle (the
    // LM cell of the q111-q114 streaming filter family): model fit on
    // the lang='en' half of the doc_id<100 reference slice, stream =
    // docs >= 100, keep avg_nll <= 5.365. The stream computes the same
    // rounded avg_nll as q115's batch score, so the SQL replay is the
    // q115 oracle with a train-slice predicate and a final filter.
    Q("q116_charlm_clean",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.CharLm.fit(graft.ops.CharLm.trainCounts(
          docs.filter(col("doc_id") < 100 && col("lang") === "en"),
          "text", maxVocab = 512))
        val bc = s.sparkContext.broadcast(model)
        graft.ops.CharLm.qualityCleanStream(
            docs.filter(col("doc_id") >= 100), bc, maxAvgNll = 5.365)
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH tri_all AS (
          SELECT substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents
                WHERE doc_id < 100 AND lang = 'en' AND LENGTH(text) >= 3)),
        kept AS (
          SELECT tri, COUNT(*) AS c FROM tri_all GROUP BY 1
          QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tri ASC) <= 512),
        st AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM kept),
        doc_tri AS (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT doc_id, text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents WHERE doc_id >= 100 AND LENGTH(text) >= 3)),
        nano AS (
          SELECT doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(ROUND(LN((COALESCE(k.c, 0) + 1.0) / (st.t + st.v + 1)) * 1e9) AS BIGINT)) AS BIGINT) AS lp
          FROM doc_tri dt LEFT JOIN kept k USING (tri) CROSS JOIN st
          GROUP BY doc_id)
        SELECT doc_id FROM nano
        WHERE n_tri > 0
          AND ROUND(CAST(-lp AS DOUBLE) / (CAST(n_tri AS DOUBLE) * 1e9), 6) <= 5.365
        ORDER BY doc_id""")),

    // ---- maximal repeated-passage spans (Boilerplate.repeatedSpans,
    // the Lee et al. 2022 exact-substring span report): token ranges
    // covered by 5-grams shared by >= 3 docs, overlapping/adjacent
    // windows merged (gaps-and-islands). Pure integer positions ->
    // exact oracle; same gram keys as q98.
    Q("q117_repeated_spans",
      (s, dir) =>
        graft.ops.Boilerplate.repeatedSpans(
            tbl(s, dir, "documents").filter(col("doc_id") < 200),
            "doc_id", "text", n = 3, minDf = 3)
          .orderBy("doc_id", "span_start"),
      Some("""WITH t AS (
          SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
          FROM documents WHERE doc_id < 200),
        g AS (
          SELECT doc_id, CAST(i AS INTEGER) AS pos,
            MD5(ARRAY_TO_STRING(toks[i+1 : i+3], ' ')) AS gk
          FROM t, UNNEST(RANGE(0, LEN(toks) - 3 + 1)) u(i)
          WHERE LEN(toks) >= 3),
        common AS (
          SELECT gk FROM (SELECT DISTINCT doc_id, gk FROM g)
          GROUP BY gk HAVING COUNT(*) >= 3),
        cp AS (SELECT doc_id, pos FROM g WHERE gk IN (SELECT gk FROM common)),
        isl0 AS (
          SELECT doc_id, pos,
            CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
              THEN 1 ELSE 0 END AS nw
          FROM cp),
        isl AS (
          SELECT doc_id, pos,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM isl0)
        SELECT doc_id,
          CAST(MIN(pos) AS INTEGER) AS span_start,
          CAST(MAX(pos) + 2 AS INTEGER) AS span_end,
          CAST(MAX(pos) + 2 - MIN(pos) + 1 AS INTEGER) AS span_tokens
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start""")),

    // ---- boilerplate removal (Boilerplate.stripRepeatedSpans): drop
    // every q117 span from the token stream, re-join survivors with
    // single spaces. String equality end-to-end -> exact oracle.
    Q("q118_strip_spans",
      (s, dir) => {
        val docs = tbl(s, dir, "documents").filter(col("doc_id") < 200)
        val spans = graft.ops.Boilerplate.repeatedSpans(
          docs, "doc_id", "text", n = 3, minDf = 3)
        graft.ops.Boilerplate.stripRepeatedSpans(docs, spans, "doc_id", "text")
          .select("doc_id", "text").orderBy("doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
          FROM documents WHERE doc_id < 200),
        g AS (
          SELECT doc_id, CAST(i AS INTEGER) AS pos,
            MD5(ARRAY_TO_STRING(toks[i+1 : i+3], ' ')) AS gk
          FROM t, UNNEST(RANGE(0, LEN(toks) - 3 + 1)) u(i)
          WHERE LEN(toks) >= 3),
        common AS (
          SELECT gk FROM (SELECT DISTINCT doc_id, gk FROM g)
          GROUP BY gk HAVING COUNT(*) >= 3),
        cp AS (SELECT doc_id, pos FROM g WHERE gk IN (SELECT gk FROM common)),
        isl0 AS (
          SELECT doc_id, pos,
            CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
              THEN 1 ELSE 0 END AS nw
          FROM cp),
        isl AS (
          SELECT doc_id, pos,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM isl0),
        spans AS (
          SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 2 AS span_end
          FROM isl GROUP BY doc_id, island),
        tokpos AS (
          SELECT doc_id, CAST(i AS INTEGER) AS i, toks[CAST(i + 1 AS INTEGER)] AS tok
          FROM t, UNNEST(RANGE(0, LEN(toks))) u(i)),
        kept AS (
          SELECT doc_id, i, tok FROM tokpos tp
          WHERE NOT EXISTS (SELECT 1 FROM spans s
            WHERE s.doc_id = tp.doc_id
              AND tp.i BETWEEN s.span_start AND s.span_end))
        SELECT t.doc_id,
          COALESCE(STRING_AGG(tok, ' ' ORDER BY i), '') AS text
        FROM t LEFT JOIN kept USING (doc_id)
        GROUP BY t.doc_id ORDER BY t.doc_id""")),

    // ---- incremental span extraction (repeatedSpansAgainstGrams):
    // common 3-grams built from the doc_id<100 REFERENCE slice only,
    // spans reported for the doc_id>=100 batch — the daily-ingest twin
    // (reference text never re-read; the spec pins the parquet
    // round-trip of the gram table).
    Q("q119_spans_incremental",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val grams = graft.ops.Boilerplate.commonGrams(
            docs.filter(col("doc_id") < 100), "doc_id", "text",
            n = 3, minDf = 3)
          .withColumn("n", lit(3)).withColumn("min_df", lit(3))
        graft.ops.Boilerplate.repeatedSpansAgainstGrams(
            docs.filter(col("doc_id") >= 100), grams, "doc_id", "text")
          .orderBy("doc_id", "span_start")
      },
      Some("""WITH t AS (
          SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, CAST(i AS INTEGER) AS pos,
            MD5(ARRAY_TO_STRING(toks[i+1 : i+3], ' ')) AS gk
          FROM t, UNNEST(RANGE(0, LEN(toks) - 3 + 1)) u(i)
          WHERE LEN(toks) >= 3),
        common AS (
          SELECT gk FROM (SELECT DISTINCT doc_id, gk FROM g WHERE doc_id < 100)
          GROUP BY gk HAVING COUNT(*) >= 3),
        cp AS (
          SELECT doc_id, pos FROM g
          WHERE doc_id >= 100 AND gk IN (SELECT gk FROM common)),
        isl0 AS (
          SELECT doc_id, pos,
            CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 3
              THEN 1 ELSE 0 END AS nw
          FROM cp),
        isl AS (
          SELECT doc_id, pos,
            SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM isl0)
        SELECT doc_id,
          CAST(MIN(pos) AS INTEGER) AS span_start,
          CAST(MAX(pos) + 2 AS INTEGER) AS span_end,
          CAST(MAX(pos) + 2 - MIN(pos) + 1 AS INTEGER) AS span_tokens
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start""")),

    // ---- CC-Net perplexity tiers (CharLm.perplexityBuckets): q115's
    // scored corpus split head/middle/tail by the bounded-histogram
    // threshold shape (no corpus-wide sort); exact integer ceil-div
    // targets, threshold comparison on the shared rounded bins.
    Q("q124_ccnet_buckets",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.CharLm.fit(graft.ops.CharLm.trainCounts(
          docs.filter(col("lang") === "en"), "text", maxVocab = 512))
        graft.ops.CharLm.perplexityBuckets(
            graft.ops.CharLm.score(docs, model))
          .select(col("doc_id"), col("ppl_bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH tri_all AS (
          SELECT substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents WHERE lang = 'en' AND LENGTH(text) >= 3)),
        kept AS (
          SELECT tri, COUNT(*) AS c FROM tri_all GROUP BY 1
          QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tri ASC) <= 512),
        st AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM kept),
        doc_tri AS (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT doc_id, text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents WHERE LENGTH(text) >= 3)),
        nano AS (
          SELECT doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(ROUND(LN((COALESCE(k.c, 0) + 1.0) / (st.t + st.v + 1)) * 1e9) AS BIGINT)) AS BIGINT) AS lp
          FROM doc_tri dt LEFT JOIN kept k USING (tri) CROSS JOIN st
          GROUP BY doc_id),
        scored AS (
          SELECT doc_id,
            ROUND(ROUND(CAST(-lp AS DOUBLE) / (CAST(n_tri AS DOUBLE) * 1e9), 6), 3) AS bin
          FROM nano WHERE n_tri > 0),
        hist AS (SELECT bin, COUNT(*) AS c FROM scored GROUP BY 1),
        cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum FROM hist),
        tot AS (SELECT MAX(cum) AS n FROM cum),
        th AS (
          SELECT k, MIN(bin) AS t
          FROM cum CROSS JOIN tot CROSS JOIN (SELECT UNNEST([1, 2]) AS k)
          WHERE cum >= (n * k + 2) // 3
          GROUP BY k),
        t1 AS (SELECT t FROM th WHERE k = 1),
        t2 AS (SELECT t FROM th WHERE k = 2)
        SELECT d.doc_id,
          CASE WHEN s.bin IS NOT NULL THEN
            CAST(1 + (CASE WHEN s.bin > t1.t THEN 1 ELSE 0 END)
                   + (CASE WHEN s.bin > t2.t THEN 1 ELSE 0 END) AS INTEGER)
          END AS ppl_bucket
        FROM documents d
        LEFT JOIN scored s USING (doc_id)
        CROSS JOIN t1 CROSS JOIN t2
        ORDER BY d.doc_id""")),

    // ---- real BPE token accounting (ops.Bpe, Sennrich et al. 2016):
    // 200 merges trained on the corpus word-frequency table (the
    // bounded driver-side loop production trainers use), then every
    // doc tokenized by the broadcast greedy-encode kernel. The merge
    // loop is iterative state — not SQL-expressible — so this entry
    // has NO DuckDB oracle (driver records the rows-only check);
    // correctness is pinned by BpeSpec: the textbook merge sequence,
    // the lossless-reconstruction invariant, monotone compression, and
    // partitioning independence.
    Q("q123_bpe_tokens",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.Bpe.trainMerges(
          graft.ops.Bpe.wordCounts(docs), numMerges = 200)
        graft.ops.Bpe.encode(docs, model)
          .select(col("doc_id"), col("n_bpe"))
          .orderBy("doc_id")
      },
      None),

    // ---- BPE ENCODE under a persisted merge table (ops.Bpe.encode) —
    // the q123 complement that IS oracle-able: the trainer is iterative
    // driver state, but encoding against a FROZEN rank table (the
    // production artifact — saveMerges/loadMerges) is deterministic
    // greedy arithmetic. The pinned table exercises rank priority
    // ((a,</w>) at rank 0 beats (t,a) inside 'data'), multi-step chains
    // (t→ta→tab→table→table</w>), identical-adjacent pairs ((g,g) in
    // 'agg' merges left-to-right non-overlapping), and dead merges.
    // The oracle replays the encode loop as a recursive CTE over the
    // DISTINCT word set: each word is a CHR(1)-wrapped symbol string
    // ("\1sym\1" per symbol), one REPLACE per step applies ALL
    // left-to-right occurrences of the lowest-rank present pair
    // (wrapping makes the pattern boundary-safe AND keeps adjacent
    // occurrences matchable), terminal states are the rows with no
    // applicable merge. Every token of every doc is in the hash.
    // Decade sweeps pin a deterministic doc_id sample on BOTH engines
    // (sweepSampled, off at gate scale): the verified result is one row
    // per TOKEN — 204,109,681 rows / 2546 s of replay at sf10, ~10× per
    // decade — and the sampled sub-corpus still drives the identical
    // frozen-merge encode loop on every kept document.
    Q("q140_bpe_encode",
      (s, dir) => {
        val model = new graft.functions.BpeModel(bpeFrozenMerges)
        graft.ops.Bpe.encode(
            sweepSampled(tbl(s, dir, "documents"), "doc_id"), model)
          .select(col("doc_id"), posexplode(col("bpe_tokens")))
          .toDF("doc_id", "pos", "tok")
          .orderBy("doc_id", "pos")
      },
      Some(s"""WITH RECURSIVE merges AS (
          SELECT * FROM (VALUES $bpeFrozenMergesSqlValues) t(rank, a, b)),
        sdocs AS (SELECT doc_id, text FROM documents
          WHERE ${sweepSampleSql("doc_id")}),
        words AS (
          SELECT DISTINCT w FROM (
            SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' +')) AS w FROM sdocs)
          WHERE w <> ''),
        base AS (
          SELECT w,
            ARRAY_TO_STRING(LIST_TRANSFORM(
              LIST_APPEND(
                LIST_TRANSFORM(RANGE(0, LENGTH(w)),
                  i -> SUBSTRING(w, CAST(i + 1 AS INTEGER), 1)),
                '</w>'),
              t -> CHR(1) || t || CHR(1)), '') AS s
          FROM words),
        enc(w, s) AS (
          SELECT w, s FROM base
          UNION ALL
          SELECT e.w,
            REPLACE(e.s, CHR(1) || m.a || CHR(1) || CHR(1) || m.b || CHR(1),
              CHR(1) || m.a || m.b || CHR(1))
          FROM enc e
          JOIN merges m ON m.rank = (
            SELECT MIN(m2.rank) FROM merges m2
            WHERE CONTAINS(e.s,
              CHR(1) || m2.a || CHR(1) || CHR(1) || m2.b || CHR(1)))),
        term AS (
          SELECT w, s FROM enc e
          WHERE NOT EXISTS (
            SELECT 1 FROM merges m
            WHERE CONTAINS(e.s,
              CHR(1) || m.a || CHR(1) || CHR(1) || m.b || CHR(1)))),
        toks AS (
          SELECT w, LIST_FILTER(STRING_SPLIT(s, CHR(1)), t -> t <> '') AS tk
          FROM term),
        docw AS (
          SELECT doc_id, i AS widx, a[CAST(i + 1 AS INTEGER)] AS w
          FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS a
                FROM sdocs),
            UNNEST(RANGE(0, LEN(a))) u(i)
          WHERE a[CAST(i + 1 AS INTEGER)] <> ''),
        flat AS (
          SELECT doc_id, widx, j, tk[CAST(j + 1 AS INTEGER)] AS tok
          FROM docw JOIN toks USING (w),
            UNNEST(RANGE(0, LEN(tk))) t(j))
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY widx, j) - 1 AS INTEGER) AS pos,
          tok
        FROM flat ORDER BY doc_id, pos""")),

    // ---- BPE TRAINER prefix (ops.Bpe.trainMerges) — closes the
    // registry's last no-oracle gap (q123): the full 200-merge trainer
    // is iterative driver state, but greedy training has the prefix
    // property (step i depends only on steps < i), so the FIRST k merge
    // selections are a deterministic function of the raw word counts —
    // and those k steps ARE SQL-replayable by unrolling (the
    // ccLabelPropCtes pattern). DuckDB independently recomputes the
    // word-frequency table (with q123's top-K cap), symbolizes words
    // with the q140 CHR(1) wrapping, and replays k rounds of
    // count-pair/argmax/merge; the hash compares the (rank, left,
    // right) prefix exactly. q123's tail beyond k stays covered by
    // BpeSpec's reference-parity property suite.
    Q("q145_bpe_train_prefix",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.Bpe.trainMerges(
          graft.ops.Bpe.wordCounts(docs), numMerges = BpeTrainPrefixK)
        import s.implicits._
        model.merges.zipWithIndex
          .map { case ((a, b), r) => (r, a, b) }.toSeq
          .toDF("rank", "left", "right")
          .orderBy("rank")
      },
      Some(s"""WITH
        wc AS (
          SELECT w AS word, COUNT(*) AS c FROM (
            SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(text, ' +')) AS w FROM documents)
          WHERE w <> ''
          GROUP BY w ORDER BY c DESC, w ASC
          LIMIT ${graft.ops.Bpe.DefaultMaxWords}),
        w0 AS MATERIALIZED (
          SELECT word, c,
            ARRAY_TO_STRING(LIST_TRANSFORM(
              LIST_APPEND(
                LIST_TRANSFORM(RANGE(0, LENGTH(word)),
                  i -> SUBSTRING(word, CAST(i + 1 AS INTEGER), 1)),
                '</w>'),
              t -> CHR(1) || t || CHR(1)), '') AS s
          FROM wc),
        ${bpeTrainPrefixCtes(BpeTrainPrefixK)}
        SELECT rank, a AS "left", b AS "right"
        FROM (${(0 until BpeTrainPrefixK)
          .map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")})
        ORDER BY rank""")),

    // ---- LM-based language ID (CharLm.langId — the CLD-class upgrade
    // of q32's stopword heuristic): one char-trigram model per labeled
    // language, every doc labeled by the model that finds it least
    // surprising (integer-nanonat argmin, ties by language ascending).
    Q("q122_langid_lm",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val models = graft.ops.CharLm.fitByLang(
          graft.ops.CharLm.trainCountsByLang(docs, maxVocab = 512))
        graft.ops.CharLm.langId(docs, models)
          .select(col("doc_id"), col("lang"), col("guess"),
            when(col("guess") === col("lang"), 1).otherwise(0).as("match"))
          .orderBy("doc_id")
      },
      Some("""WITH tri_all AS (
          SELECT lang, substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT lang, text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents WHERE LENGTH(text) >= 3)),
        kept AS (
          SELECT lang, tri, COUNT(*) AS c FROM tri_all GROUP BY 1, 2
          QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tri ASC) <= 512),
        st AS (SELECT lang, SUM(c) AS t, COUNT(*) AS v FROM kept GROUP BY 1),
        doc_tri AS (
          SELECT doc_id, substr(text, CAST(i AS INTEGER), 3) AS tri
          FROM (SELECT doc_id, text, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS i
                FROM documents WHERE LENGTH(text) >= 3)),
        scored AS (
          SELECT dt.doc_id, st.lang,
            SUM(CAST(ROUND(LN((COALESCE(k.c, 0) + 1.0) / (st.t + st.v + 1)) * 1e9) AS BIGINT)) AS lp
          FROM doc_tri dt
          CROSS JOIN st
          LEFT JOIN kept k ON k.lang = st.lang AND k.tri = dt.tri
          GROUP BY dt.doc_id, st.lang),
        best AS (
          SELECT doc_id, lang AS guess FROM (
            SELECT doc_id, lang, ROW_NUMBER() OVER (
              PARTITION BY doc_id ORDER BY lp DESC, lang ASC) AS rn
            FROM scored) WHERE rn = 1)
        SELECT d.doc_id, d.lang, b.guess,
          CAST(CASE WHEN b.guess = d.lang THEN 1 ELSE 0 END AS INTEGER) AS match
        FROM documents d LEFT JOIN best b USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- word-bigram LM perplexity (ops.TokenLm — the token-level
    // CC-Net model beside q115's char-level one): fit on the lang='en'
    // slice, vocab capped at 512 (bites at every SF, ties by gram ASC),
    // same integer-nanonat determinism as q115.
    Q("q120_tokenlm_perplexity",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.TokenLm.fit(graft.ops.TokenLm.trainCounts(
          docs.filter(col("lang") === "en"), "text",
          maxVocab = 512, order = 2))
        graft.ops.TokenLm.score(docs, model)
          .select(col("doc_id"), col("n_tri"), col("nll_nano"), col("avg_nll"))
          .orderBy("doc_id")
      },
      Some("""WITH toksed AS (
          SELECT doc_id, lang, REGEXP_SPLIT_TO_ARRAY(text, ' +') AS toks
          FROM documents),
        tg AS (
          SELECT doc_id, lang, ARRAY_TO_STRING(toks[CAST(i + 1 AS INTEGER) : CAST(i + 2 AS INTEGER)], ' ') AS tri
          FROM toksed, UNNEST(RANGE(0, LEN(toks) - 2 + 1)) u(i)
          WHERE LEN(toks) >= 2),
        kept AS (
          SELECT tri, COUNT(*) AS c FROM tg WHERE lang = 'en' GROUP BY 1
          QUALIFY ROW_NUMBER() OVER (ORDER BY c DESC, tri ASC) <= 512),
        st AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM kept),
        nano AS (
          SELECT doc_id, COUNT(*) AS n_tri,
            CAST(SUM(CAST(ROUND(LN((COALESCE(k.c, 0) + 1.0) / (st.t + st.v + 1)) * 1e9) AS BIGINT)) AS BIGINT) AS lp
          FROM tg LEFT JOIN kept k USING (tri) CROSS JOIN st
          GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(COALESCE(n.n_tri, 0) AS INTEGER) AS n_tri,
          COALESCE(-n.lp, 0) AS nll_nano,
          CASE WHEN n.n_tri > 0
            THEN ROUND(CAST(-n.lp AS DOUBLE) / (CAST(n.n_tri AS DOUBLE) * 1e9), 6)
            END AS avg_nll
        FROM documents d LEFT JOIN nano n USING (doc_id)
        ORDER BY d.doc_id""")),

    // ---- DSIR importance scoring (ops.Dsir, Xie et al. 2023
    // arXiv:2302.03169): hashed unigram+bigram bag models of a target
    // slice (source='src3') vs the whole corpus, per-doc log importance
    // ratio in integer nanonats. B=1024 buckets so hash collisions (part
    // of the method) are exercised at every SF. Feature hashing is the
    // md5-u32 coin (engine-exact), counts are longs, each ln term is
    // driver-rounded to nanonats — the whole score is hash-checkable.
    Q("q125_dsir_score",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.Dsir.fitOnCorpus(
          docs, col("source") === "src3", "text", numBuckets = 1024)
        graft.ops.Dsir.score(docs, model)
          .select(col("doc_id"), col("n_feats"), col("lr_nano"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(LOWER(text), ' +') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, source,
            CAST(('0x' || SUBSTRING(MD5('u:' || t[CAST(i + 1 AS INTEGER)]), 1, 8))::BIGINT % 1024 AS INTEGER) AS b
          FROM toks, UNNEST(RANGE(0, LEN(t))) u(i)
          UNION ALL
          SELECT doc_id, source,
            CAST(('0x' || SUBSTRING(MD5('b:' || t[CAST(i + 1 AS INTEGER)] || ' ' || t[CAST(i + 2 AS INTEGER)]), 1, 8))::BIGINT % 1024 AS INTEGER) AS b
          FROM toks, UNNEST(RANGE(0, LEN(t) - 1)) u(i)),
        tc AS (SELECT b, COUNT(*) AS c FROM feats WHERE source = 'src3' GROUP BY 1),
        rc AS (SELECT b, COUNT(*) AS c FROM feats GROUP BY 1),
        tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM tc) AS tt,
                       (SELECT COALESCE(SUM(c), 0) FROM rc) AS tr),
        sc AS (
          SELECT f.doc_id,
            CAST(SUM(
              CAST(ROUND(LN((COALESCE(tc.c, 0) + 1.0) / (tot.tt + 1024)) * 1e9) AS BIGINT)
              - CAST(ROUND(LN((COALESCE(rc.c, 0) + 1.0) / (tot.tr + 1024)) * 1e9) AS BIGINT)) AS BIGINT) AS lr
          FROM feats f LEFT JOIN tc ON tc.b = f.b LEFT JOIN rc ON rc.b = f.b
          CROSS JOIN tot
          GROUP BY f.doc_id)
        SELECT t.doc_id, CAST(2 * LEN(t.t) - 1 AS INTEGER) AS n_feats, sc.lr AS lr_nano
        FROM toks t JOIN sc ON sc.doc_id = t.doc_id
        ORDER BY t.doc_id"""),
      bench = true),

    // ---- DSIR top-k selection (the paper's deterministic top-k
    // heuristic): the 100 most target-like docs by (lr_nano DESC, doc_id
    // ASC) — a TakeOrderedAndProject, not a global sort. Same model as
    // q125; the Gumbel sampler variant is spec-pinned (DsirSpec).
    Q("q126_dsir_select",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val model = graft.ops.Dsir.fitOnCorpus(
          docs, col("source") === "src3", "text", numBuckets = 1024)
        graft.ops.Dsir.selectTopK(
            graft.ops.Dsir.score(docs, model).select("doc_id", "lr_nano"), 100)
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(LOWER(text), ' +') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, source,
            CAST(('0x' || SUBSTRING(MD5('u:' || t[CAST(i + 1 AS INTEGER)]), 1, 8))::BIGINT % 1024 AS INTEGER) AS b
          FROM toks, UNNEST(RANGE(0, LEN(t))) u(i)
          UNION ALL
          SELECT doc_id, source,
            CAST(('0x' || SUBSTRING(MD5('b:' || t[CAST(i + 1 AS INTEGER)] || ' ' || t[CAST(i + 2 AS INTEGER)]), 1, 8))::BIGINT % 1024 AS INTEGER) AS b
          FROM toks, UNNEST(RANGE(0, LEN(t) - 1)) u(i)),
        tc AS (SELECT b, COUNT(*) AS c FROM feats WHERE source = 'src3' GROUP BY 1),
        rc AS (SELECT b, COUNT(*) AS c FROM feats GROUP BY 1),
        tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM tc) AS tt,
                       (SELECT COALESCE(SUM(c), 0) FROM rc) AS tr),
        sc AS (
          SELECT f.doc_id,
            CAST(SUM(
              CAST(ROUND(LN((COALESCE(tc.c, 0) + 1.0) / (tot.tt + 1024)) * 1e9) AS BIGINT)
              - CAST(ROUND(LN((COALESCE(rc.c, 0) + 1.0) / (tot.tr + 1024)) * 1e9) AS BIGINT)) AS BIGINT) AS lr
          FROM feats f LEFT JOIN tc ON tc.b = f.b LEFT JOIN rc ON rc.b = f.b
          CROSS JOIN tot
          GROUP BY f.doc_id)
        SELECT doc_id, lr AS lr_nano FROM sc
        ORDER BY lr_nano DESC, doc_id ASC LIMIT 100""")),

    // ---- exact heavy hitters (ops.Frequent, Misra–Gries candidates +
    // exact recount): token bigrams above 0.13% support. The fixture
    // bigram vocabulary (~900) exceeds the sketch's ~770 counters, so
    // the one-pass candidate cap genuinely prunes and the recount must
    // restore exactness — which the oracle's brute-force GROUP BY then
    // hash-checks.
    Q("q129_frequent_bigrams",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.ops.Frequent.frequentItems(
            docs.select(explode(
              graft.ops.TokenLm.tokenNgrams(col("text"), 2)).as("bg")),
            col("bg"), num = 13, den = 10000)
          .orderBy(col("cnt").desc, col("item").asc)
      },
      Some("""WITH t AS (
          SELECT REGEXP_SPLIT_TO_ARRAY(text, ' +') AS a FROM documents),
        g AS (
          SELECT ARRAY_TO_STRING(a[CAST(i + 1 AS INTEGER) : CAST(i + 2 AS INTEGER)], ' ') AS item
          FROM t, UNNEST(RANGE(0, LEN(a) - 1)) u(i)
          WHERE LEN(a) >= 2),
        tot AS (SELECT COUNT(*) AS n FROM g)
        SELECT item, COUNT(*) AS cnt FROM g CROSS JOIN tot
        GROUP BY item, tot.n HAVING COUNT(*) * 10000 >= tot.n * 13
        ORDER BY cnt DESC, item ASC"""),
      bench = true),

    // ---- streaming DSIR filter, batch-mode oracle (the domain-
    // relevance cell of the q111-q114/q116 streaming filter family):
    // model fit on the doc_id<100 reference slice (target = its src3
    // docs), stream = docs >= 100, keep lr_nano >= -1.8e10. The verdict
    // is the exact integer sum q125 publishes, so the SQL replay is the
    // q125 oracle with slice predicates and a final integer filter.
    Q("q130_dsir_clean",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        val ref = docs.filter(col("doc_id") < 100)
        val model = graft.ops.Dsir.fitOnCorpus(
          ref, col("source") === "src3", "text", numBuckets = 1024)
        val bc = s.sparkContext.broadcast(model.ratioNano)
        graft.ops.Dsir.qualityCleanStream(
            docs.filter(col("doc_id") >= 100), bc,
            minLrNano = -18000000000L)
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH toks AS (
          SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(LOWER(text), ' +') AS t
          FROM documents),
        feats AS (
          SELECT doc_id, source,
            CAST(('0x' || SUBSTRING(MD5('u:' || t[CAST(i + 1 AS INTEGER)]), 1, 8))::BIGINT % 1024 AS INTEGER) AS b
          FROM toks, UNNEST(RANGE(0, LEN(t))) u(i)
          UNION ALL
          SELECT doc_id, source,
            CAST(('0x' || SUBSTRING(MD5('b:' || t[CAST(i + 1 AS INTEGER)] || ' ' || t[CAST(i + 2 AS INTEGER)]), 1, 8))::BIGINT % 1024 AS INTEGER) AS b
          FROM toks, UNNEST(RANGE(0, LEN(t) - 1)) u(i)),
        tc AS (SELECT b, COUNT(*) AS c FROM feats
               WHERE doc_id < 100 AND source = 'src3' GROUP BY 1),
        rc AS (SELECT b, COUNT(*) AS c FROM feats WHERE doc_id < 100 GROUP BY 1),
        tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM tc) AS tt,
                       (SELECT COALESCE(SUM(c), 0) FROM rc) AS tr),
        sc AS (
          SELECT f.doc_id,
            CAST(SUM(
              CAST(ROUND(LN((COALESCE(tc.c, 0) + 1.0) / (tot.tt + 1024)) * 1e9) AS BIGINT)
              - CAST(ROUND(LN((COALESCE(rc.c, 0) + 1.0) / (tot.tr + 1024)) * 1e9) AS BIGINT)) AS BIGINT) AS lr
          FROM feats f LEFT JOIN tc ON tc.b = f.b LEFT JOIN rc ON rc.b = f.b
          CROSS JOIN tot
          WHERE f.doc_id >= 100
          GROUP BY f.doc_id)
        SELECT doc_id FROM sc WHERE lr >= -18000000000
        ORDER BY doc_id""")),

    // ---- Gopher quality gates (ops.Quality, Rae et al. 2021 A1.1):
    // per-rule boolean flags + the conjunction, all integer arithmetic
    // (divisions cleared by cross-multiplication) so the oracle replays
    // them bit-for-bit. minWords=30 so the word-count gate splits the
    // fixture's ~50-token docs both ways. The fixture is made MULTI-LINE
    // (newline after every 2nd word) so the \s+ word tokenization is
    // exercised across line boundaries, and deterministic symbol lines
    // are injected on doc_id residues so BOTH per-symbol gates fire both
    // ways — including the moderate-both case (%9) that the old summed
    // gate would have failed but the paper (and the per-symbol form)
    // passes.
    Q("q132_gopher_quality",
      (s, dir) => {
        val ml = concat(
          regexp_replace(col("text"), "((?:\\S+ ){1}\\S+) ", "$1\n"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("\n# # # # # # # # big sale")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit("\nwait... … … … … … … more")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(9)) === 0,
            lit("\n# # # … … … ok")).otherwise(lit("")))
        graft.ops.Quality.gopherQuality(
            tbl(s, dir, "documents").withColumn("text", ml),
            "text", minWords = 30,
            // the synthetic vocabulary carries only 'the'/'a' from the
            // canonical set — extend it so the >=2-evidence rule has
            // both outcomes at every SF (the set is corpus-tunable by
            // design; Gopher's own is English-specific)
            stopWords = graft.ops.Quality.GopherStopWords :+ "a")
          .select("doc_id", "wc_ok", "mwl_ok", "symbol_ok", "bullet_ok",
            "alpha_ok", "stopword_ok", "gopher_keep")
          .orderBy("doc_id")
      },
      Some("""WITH b AS (
          SELECT doc_id,
            REGEXP_REPLACE(text, '((?:\S+ ){1}\S+) ', '\1' || CHR(10), 'g')
            || CASE WHEN doc_id % 5 = 0 THEN CHR(10) || '# # # # # # # # big sale' ELSE '' END
            || CASE WHEN doc_id % 7 = 0 THEN CHR(10) || 'wait... … … … … … … more' ELSE '' END
            || CASE WHEN doc_id % 9 = 0 THEN CHR(10) || '# # # … … … ok' ELSE '' END
            AS text
          FROM documents),
        d AS (
          SELECT doc_id, text,
            REGEXP_SPLIT_TO_ARRAY(text, '[ \t\n\x0B\f\r]+') AS toks,
            REGEXP_SPLIT_TO_ARRAY(text, '\n') AS lines
          FROM b),
        f AS (
          SELECT doc_id,
            LEN(toks) AS n, LEN(lines) AS nl,
            COALESCE(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))), 0) AS totlen,
            LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '#', '', 'g')) AS hashcnt,
            LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '\.\.\.', '', 'g')) AS elldiff,
            LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '…', '', 'g')) AS unie,
            LEN(LIST_FILTER(lines, l -> REGEXP_MATCHES(l, '^[ \t\n\x0B\f\r]*[-*•]'))) AS bullets,
            LEN(LIST_FILTER(lines, l -> REGEXP_MATCHES(l, '\.\.\.[ \t\n\x0B\f\r]*$'))) AS ellends,
            LEN(LIST_FILTER(toks, w -> REGEXP_MATCHES(w, '[A-Za-z]'))) AS alphas,
            LEN(LIST_FILTER(['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with', 'a'],
              s -> LIST_CONTAINS(toks, s))) AS stops
          FROM d)
        SELECT doc_id,
          n >= 30 AND n <= 100000 AS wc_ok,
          3 * n <= totlen AND totlen <= 10 * n AS mwl_ok,
          hashcnt * 10 <= n AND (elldiff + 3 * unie) * 10 <= 3 * n AS symbol_ok,
          bullets * 10 <= nl AND ellends * 10 <= 3 * nl AS bullet_ok,
          alphas * 10 >= 8 * n AS alpha_ok,
          stops >= 2 AS stopword_ok,
          (n >= 30 AND n <= 100000) AND (3 * n <= totlen AND totlen <= 10 * n)
            AND (hashcnt * 10 <= n AND (elldiff + 3 * unie) * 10 <= 3 * n)
            AND (bullets * 10 <= nl AND ellends * 10 <= 3 * nl)
            AND (alphas * 10 >= 8 * n) AND (stops >= 2) AS gopher_keep
        FROM f ORDER BY doc_id""")),

    // ---- Gopher duplicate-line repetition stats (ops.Quality
    // .duplicateLineStats): the fixture text is single-line, so the
    // query derives a deterministic multi-line form (a newline after
    // every 2nd word — both engines apply the identical regex) and
    // measures whole-line repetition. All-integer outputs.
    Q("q133_duplicate_lines",
      (s, dir) =>
        graft.ops.Quality.duplicateLineStats(
            tbl(s, dir, "documents").withColumn("text",
              regexp_replace(col("text"), "((?:\\S+ ){1}\\S+) ", "$1\n")),
            "doc_id")
          .select("doc_id", "n_lines", "dup_lines", "dup_line_chars",
            "line_chars", "dup_line_ok")
          .orderBy("doc_id"),
      Some("""WITH t AS (
          SELECT doc_id,
            REGEXP_REPLACE(text, '((?:\S+ ){1}\S+) ', '\1' || CHR(10), 'g') AS tx
          FROM documents),
        l AS (
          SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(tx, '\n')) AS line FROM t),
        c AS (SELECT doc_id, line, COUNT(*) AS cnt FROM l GROUP BY 1, 2),
        s AS (
          SELECT doc_id,
            CAST(SUM(cnt) AS BIGINT) AS n_lines,
            CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_lines,
            CAST(SUM(CASE WHEN cnt > 1 THEN cnt * LENGTH(line) ELSE 0 END) AS BIGINT) AS dup_line_chars,
            CAST(SUM(cnt * LENGTH(line)) AS BIGINT) AS line_chars
          FROM c GROUP BY 1)
        SELECT doc_id, n_lines, dup_lines, dup_line_chars, line_chars,
          dup_lines * 10 <= 3 * n_lines
            AND dup_line_chars * 10 <= 2 * line_chars AS dup_line_ok
        FROM s ORDER BY doc_id""")),

    // ---- cross-document LINE dedup (Boilerplate.commonLines /
    // stripCommonLines, the RefinedWeb/CCNet line pass): the q133
    // newline derivation makes 2-word lines that repeat heavily across
    // the tiny-vocabulary corpus; lines shared by >= 5 distinct docs are
    // stripped order-preservingly. The REWRITTEN text and the dropped
    // count are both in the hash.
    Q("q141_line_dedup",
      (s, dir) => {
        val lined = tbl(s, dir, "documents").withColumn("text",
          regexp_replace(col("text"), "((?:\\S+ ){1}\\S+) ", "$1\n"))
        val common = graft.ops.Boilerplate.commonLines(
          lined, "doc_id", "text", minDf = 5)
        graft.ops.Boilerplate.stripCommonLines(lined, common, "doc_id", "text")
          .select("doc_id", "n_dropped_lines", "text")
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
          SELECT doc_id,
            REGEXP_REPLACE(text, '((?:\S+ ){1}\S+) ', '\1' || CHR(10), 'g') AS text
          FROM documents),
        l AS (
          SELECT doc_id, i, a[CAST(i + 1 AS INTEGER)] AS line
          FROM (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(text, '\n') AS a FROM t),
            UNNEST(RANGE(0, LEN(a))) u(i)),
        c AS (
          SELECT line FROM (
            SELECT line, COUNT(DISTINCT doc_id) AS df FROM l GROUP BY line)
          WHERE df >= 5),
        k AS (SELECT doc_id, i, line FROM l WHERE line NOT IN (SELECT line FROM c)),
        r AS (
          SELECT doc_id, STRING_AGG(line, CHR(10) ORDER BY i) AS text,
            COUNT(*) AS n_kept
          FROM k GROUP BY doc_id)
        SELECT t.doc_id, COALESCE(r.text, '') AS text,
          CAST(LEN(REGEXP_SPLIT_TO_ARRAY(t.text, '\n')) - COALESCE(r.n_kept, 0)
            AS INTEGER) AS n_dropped_lines
        FROM t LEFT JOIN r USING (doc_id) ORDER BY t.doc_id""")),

    // ---- certified exact top-k heavy hitters (Frequent.topK): the
    // Misra–Gries undercount bound doubles as the exactness proof —
    // sketchSize=832 sits below the ~916 bigram vocabulary (evictions
    // happen) while the k=20 boundary count clears n/(832+1) at every
    // SF, so the recounted prefix is provably the brute-force top-20
    // the oracle computes.
    Q("q134_frequent_topk",
      (s, dir) => {
        val docs = tbl(s, dir, "documents")
        graft.ops.Frequent.topK(
            docs.select(explode(
              graft.ops.TokenLm.tokenNgrams(col("text"), 2)).as("bg")),
            col("bg"), k = 20, sketchSize = topkSketchSize)
          .orderBy(col("cnt").desc, col("item").asc)
      },
      Some("""WITH t AS (
          SELECT REGEXP_SPLIT_TO_ARRAY(text, ' +') AS a FROM documents),
        g AS (
          SELECT ARRAY_TO_STRING(a[CAST(i + 1 AS INTEGER) : CAST(i + 2 AS INTEGER)], ' ') AS item
          FROM t, UNNEST(RANGE(0, LEN(a) - 1)) u(i)
          WHERE LEN(a) >= 2)
        SELECT item, COUNT(*) AS cnt FROM g
        GROUP BY item ORDER BY cnt DESC, item ASC LIMIT 20""")),

    // ---- C4 page cleaning (Quality.c4Clean, Raffel et al. 2020 §2.2):
    // the fixture text is built into 5-word '.'-terminated lines (the
    // paper's >= 5-words-per-line rule is now the default), with
    // deterministic short-line / lorem-ipsum / code-brace / javascript
    // injections on doc_id residues so every rule fires both ways — the
    // 2-word 'buy now.' line passes punctuation but fails the word
    // floor. The REWRITTEN text is part of the hash — a string-exact
    // line-filter check.
    Q("q135_c4_clean",
      (s, dir) => {
        val built = concat(
          regexp_replace(col("text"), "((?:\\S+ ){4}\\S+) ", "$1.\n"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit("\nbuy now.")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit("\nlorem ipsum dolor.")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            lit("\ncode sample = { x };")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(17)) === 0,
            lit("\nplease enable javascript to view this page.")).otherwise(lit("")))
        graft.ops.Quality.c4Clean(
            tbl(s, dir, "documents").withColumn("text", built))
          .select("doc_id", "n_kept_lines", "text")
          .orderBy("doc_id")
      },
      Some("""WITH b AS (
          SELECT doc_id,
            REGEXP_REPLACE(text, '((?:\S+ ){4}\S+) ', '\1.' || CHR(10), 'g')
            || CASE WHEN doc_id % 7 = 0 THEN CHR(10) || 'buy now.' ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN CHR(10) || 'lorem ipsum dolor.' ELSE '' END
            || CASE WHEN doc_id % 13 = 0 THEN CHR(10) || 'code sample = { x };' ELSE '' END
            || CASE WHEN doc_id % 17 = 0 THEN CHR(10) || 'please enable javascript to view this page.' ELSE '' END
            AS text
          FROM documents),
        k AS (
          SELECT doc_id, text,
            LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\n'), l ->
              REGEXP_MATCHES(l, '[.!?"][ \t\n\x0B\f\r]*$')
              AND LEN(REGEXP_SPLIT_TO_ARRAY(l, '[ \t\n\x0B\f\r]+')) >= 5
              AND NOT CONTAINS(LOWER(l), 'javascript')) AS kept
          FROM b)
        SELECT doc_id, CAST(LEN(kept) AS INTEGER) AS n_kept_lines,
          ARRAY_TO_STRING(kept, CHR(10)) AS text
        FROM k
        WHERE NOT CONTAINS(LOWER(text), 'lorem ipsum')
          AND NOT CONTAINS(text, '{')
          AND LEN(kept) >= 3
        ORDER BY doc_id"""))
  )
}
