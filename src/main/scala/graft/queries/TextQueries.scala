package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{NativeText, Text}

/** LLM-training-data pipeline queries over the `documents` table: exact
  * content dedup, quality scoring, token statistics, language-ID heuristic,
  * content fingerprinting (SimHash + winnowing), MinHash signatures, and
  * near-duplicate detection via LSH banding — the operator families a
  * 100 TB text-corpus pipeline needs beyond the reference's ETL vocabulary
  * (extends ref: etl/transform.py:53-87 string ops; builder brief §LLM-ops).
  *
  * Scale design notes (the point of every query here):
  *  - NOTHING does an all-pairs comparison. Near-dup candidates come from
  *    equality joins on MinHash band keys / SimHash bands — at 100 TB those
  *    are ordinary hash-partitioned equi-joins whose fan-in per bucket is
  *    bounded by collision probability, not corpus size.
  *  - All hashes are engine-independent integer constructions (graft.
  *    functions.Text is the declarative spec mirrored by each oracle) so
  *    the DuckDB oracle reproduces them bit-for-bit.
  *  - The hot per-doc kernels (shingle hashes, simhash, rolling hash) run
  *    as native Catalyst expressions with codegen (graft.functions.
  *    NativeHash) — single static calls inside WholeStageCodegen, no UDF
  *    serialization boundary; EngineProps property-checks them against the
  *    declarative spec. The work is embarrassingly parallel over documents.
  */
object TextQueries {

  import Text._

  // ---- shared SQL fragments mirroring graft.functions.Text --------------

  /** Token-hash CTE: polynomial char hash mod 1000003 per token — Horner
    * fold with per-step mod (overflow-free at any token length; the
    * prepended 0 seeds the fold and makes empty tokens hash to 0). */
  private val thCte =
    """th_t AS (
      |  SELECT doc_id, lang, text,
      |         list_transform(string_split(text, ' '), t ->
      |           list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(generate_series(1, length(t)),
      |               i -> CAST(ord(substr(t, i, 1)) AS BIGINT))),
      |             (a, b) -> (a * 31 + b) % 1000003)) AS th
      |  FROM documents)""".stripMargin

  /** 3-gram shingle-hash CTE over th_t (perfect packing of 3 token hashes). */
  private val shCte =
    """sh_t AS (
      |  SELECT doc_id, CASE WHEN len(th) >= 3
      |    THEN list_transform(generate_series(1, len(th) - 2),
      |           i -> th[i] * 1000006000009 + th[i+1] * 1000003 + th[i+2])
      |    ELSE []::BIGINT[] END AS sh
      |  FROM th_t)""".stripMargin

  /** k-th MinHash over the sh column (universal hash, fixed coefficients). */
  private def mhSql(k: Int): String =
    s"list_min(list_transform(sh, x -> ((x % 2147483647) * ${2 * k + 3} + ${101 * k + 7}) % 2147483647))"

  /** 20-bit SimHash over a hash-array column (sum of per-bit CASE terms).
    * Computed over SHINGLE hashes, not token hashes: on a small shared
    * vocabulary every document contains nearly every token, so token-level
    * SimHash saturates (all fingerprints collide); 3-gram shingles are
    * unique to word order and stay discriminative.
    */
  private def simhashSql(arr: String): String =
    (0 until 20).map { j =>
      s"CASE WHEN list_sum(list_transform($arr, x -> (x // ${1L << j}) % 2 * 2 - 1)) > 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** One 32-bit half of the 64-bit SimHash (mirror of
    * Text.simhash64Half): bit j's ±1 vote is the sign of the MinHash
    * universal hash against P/2, so all 64 bits are balanced regardless
    * of the feature hashes' bit width. off = 0 → bits 0..31 (lo),
    * 32 → bits 32..63 (hi); both halves are non-negative, so no
    * engine disagrees about the sign bit.
    */
  private def simhash64HalfSql(arr: String, off: Int): String =
    (0 until 32).map { jj =>
      val j = off + jj
      s"CASE WHEN list_sum(list_transform($arr, x -> CASE WHEN ((x % 2147483647) * ${2 * j + 3} + ${101 * j + 7}) % 2147483647 >= 1073741824 THEN 1 ELSE -1 END)) > 0 THEN ${1L << jj} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Language-marker profiles for the stopword-scoring language-ID
    * heuristic. Deterministic fixed sets over the corpus vocabulary; the
    * priority order (ties) is the declaration order below.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("data", "batch", "group", "stream"),
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("query", "table", "row", "line"),
    "fr" -> Seq("sort", "merge", "join", "filter"),
    "zh" -> Seq("spark", "vector", "hash", "key"))

  private def toks: Column = tokens(col("text"))

  /** The documents scan, repartitioned for COMPUTE: the corpus parquet is
    * small in bytes, so a byte-sized split (maxPartitionBytes) yields one
    * partition — and the hash kernels here are CPU-bound interpreted
    * higher-order functions, so that one task serializes the whole stage.
    * Hash-repartitioning by doc_id costs a tiny shuffle and buys full-core
    * parallelism; the same sizing rule (partition for CPU, not bytes)
    * applies unchanged on a 1000-executor cluster.
    */
  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d).repartition(col("doc_id"))

  /** Persisted 64-bit fingerprint frame (doc_id, lo, hi) for the SimHash
    * near-dup family (r15, guide §1.2 per-task work): every consumer
    * feeds SimHashBands with the SAME frame on both join sides, so
    * without a persist the simhash64∘shingle kernel — the CPU-heaviest
    * map work in the text family — ran once PER side (and once more per
    * extra consumer). The fingerprints are 3 longs/doc; caching them is
    * ~24 B/doc, the same budget as q86's persisted index. Releases and
    * re-registers `scope`, so call it FIRST in the query body.
    */
  private def simhash64Fp(s: org.apache.spark.sql.SparkSession, d: String,
                          scope: String): org.apache.spark.sql.DataFrame = {
    graft.operators.CacheScope.release(scope)
    graft.operators.CacheScope.persist(scope, docs(s, d)
      .select(col("doc_id"),
        NativeText.simhash64(NativeText.shingleHashesOfText(col("text"))).as("fp"))
      .select(col("doc_id"),
        element_at(col("fp"), 1).as("lo"), element_at(col("fp"), 2).as("hi")))
  }

  /** q84 deployment knobs — declared BEFORE `all` because the q84 oracle
    * string interpolates them eagerly at object init (a forward reference
    * would silently interpolate 0); documented at [[containmentPairs]].
    */
  private val ContainModP = 8
  private val ContainMinSupport = 4
  private val ContainThrNum = 8
  private val ContainThrDen = 10

  val all: Seq[Q] = Seq(

    // ---- q28: content-level exact dedup — hash the full text, keep the
    // minimum id per content group (survivorship), count copies. ONE shuffle
    // on the 128-bit content hash; at 100 TB this is the canonical
    // first-pass corpus dedup (generalizes ref P6 dropDuplicates,
    // transform.py:98,296 — which deduped on a key column, not content).
    Q("q28_doc_dedup_exact",
      Some("""SELECT md5(text) AS content_hash,
             |       MIN(doc_id) AS keep_id,
             |       COUNT(*) AS n_copies
             |FROM documents
             |GROUP BY 1
             |ORDER BY content_hash""".stripMargin),
      (s, d) => docs(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("content_hash")),

    // ---- q29: per-document quality scoring — length, token counts,
    // type-token ratio, stopword ratio, all in exact integer micro-units.
    // Purely per-row (no shuffle at all): map-only at any scale.
    Q("q29_text_quality",
      Some("""SELECT doc_id,
             |       CAST(length(text) AS BIGINT) AS n_chars,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |       CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS BIGINT) AS stop_cnt,
             |       CAST(floor((length(text) - len(string_split(text, ' ')) + 1) * 1000000.0
             |                  / len(string_split(text, ' '))) AS BIGINT) AS avg_tok_len_micro,
             |       CAST(floor(len(list_distinct(string_split(text, ' '))) * 1000000.0
             |                  / len(string_split(text, ' '))) AS BIGINT) AS ttr_micro,
             |       (len(string_split(text, ' ')) >= 10
             |        AND len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) * 5
             |            <= len(string_split(text, ' '))) AS quality_ok
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val nTok = size(toks).cast("long")
        val nDis = size(array_distinct(toks)).cast("long")
        val stopC = size(filter(toks, t => t.isin("the", "a"))).cast("long")
        docs(s, d).select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          nTok.as("n_tokens"),
          nDis.as("n_distinct"),
          stopC.as("stop_cnt"),
          floor((length(col("text")).cast("long") - nTok + 1L) * lit(1000000.0) / nTok)
            .cast("long").as("avg_tok_len_micro"),
          floor(nDis * lit(1000000.0) / nTok).cast("long").as("ttr_micro"),
          (nTok >= 10L && stopC * 5L <= nTok).as("quality_ok"))
          .orderBy("doc_id")
      }),

    // ---- q30: corpus token frequency — explode tokens, aggregate per
    // (lang, token). explode is Spark's Generate operator; the aggregation
    // shuffles one (lang, token, partial-count) row per partition per key —
    // vocabulary-sized, not corpus-sized, thanks to partial aggregation.
    Q("q30_token_freq",
      Some("""SELECT lang, tok AS token, COUNT(*) AS n
             |FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
             |GROUP BY 1, 2
             |ORDER BY lang, token""".stripMargin),
      (s, d) => docs(s, d)
        .select(col("lang"), explode(toks).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "token")),

    // ---- q59: inverted index — token -> document-frequency + sorted
    // posting list, the core text-retrieval structure. One shuffle on the
    // token; postings stay bounded per token by corpus df. Posting lists
    // serialized to a canonical comma-joined string so both engines hash
    // identically (array columns hash representation-sensitively).
    Q("q59_inverted_index",
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |SELECT tok AS token, COUNT(DISTINCT doc_id) AS df,
             |       array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
             |FROM t
             |GROUP BY tok
             |ORDER BY token""".stripMargin),
      (s, d) => docs(s, d)
        .select(col("doc_id"), explode(toks).as("token"))
        .groupBy("token")
        // one aggregate: df derived from the collected set afterwards —
        // countDistinct alongside collect_set would plan an Expand +
        // double aggregation for the same answer
        .agg(array_sort(collect_set(col("doc_id"))).as("p_arr"))
        .select(col("token"), size(col("p_arr")).cast("long").as("df"),
          expr("array_join(transform(p_arr, x -> CAST(x AS STRING)), ',')").as("postings"))
        .orderBy("token")),

    // ---- q31: language-ID heuristic — score each language by marker-token
    // hits, argmax with a fixed priority tie-break. Map-only; the marker
    // profiles are compile-time constants (an n-gram/stopword profile model,
    // the classic pre-neural langid design).
    Q("q31_lang_id", {
      val scoreSql = langMarkers.map { case (l, ms) =>
        s"CAST(len(list_filter(string_split(text, ' '), t -> t IN (${ms.map("'" + _ + "'").mkString(", ")}))) AS BIGINT) AS s_$l"
      }.mkString(",\n       ")
      val langs = langMarkers.map(_._1)
      val caseSql = langs.init.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map("s_" + _).mkString(", ")
        val restExpr = if (langs.drop(i + 1).size == 1) rest else s"greatest($rest)"
        s"WHEN s_$l >= $restExpr THEN '$l'"
      }.mkString(" ")
      Some(
        s"""SELECT doc_id, lang, pred_lang, best_score FROM (
           |  SELECT doc_id, lang,
           |         CASE $caseSql ELSE '${langs.last}' END AS pred_lang,
           |         greatest(${langs.map("s_" + _).mkString(", ")}) AS best_score
           |  FROM (SELECT doc_id, lang, $scoreSql FROM documents))
           |ORDER BY doc_id""".stripMargin)
    },
      (s, d) => {
        val scores = langMarkers.map { case (l, ms) =>
          l -> size(filter(toks, t => t.isin(ms: _*))).cast("long")
        }
        val scored = docs(s, d).select(
          col("doc_id") +: col("lang") +:
            scores.map { case (l, c) => c.as(s"s_$l") }: _*)
        val langs = langMarkers.map(_._1)
        val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) {
          case ((l, i), elseExpr) =>
            val rest = langs.drop(i + 1).map(x => col(s"s_$x"))
            val restMax = if (rest.size == 1) rest.head else greatest(rest: _*)
            when(col(s"s_$l") >= restMax, lit(l)).otherwise(elseExpr)
        }
        scored.select(col("doc_id"), col("lang"),
          pred.as("pred_lang"),
          greatest(langs.map(x => col(s"s_$x")): _*).as("best_score"))
          .orderBy("doc_id")
      }),

    // ---- q32: content fingerprints — 20-bit SimHash over token hashes +
    // minimum rolling 8-char window hash (winnowing-style). Map-only;
    // fingerprints are what gets bucketed/joined downstream (q35).
    Q("q32_doc_fingerprint",
      Some(
        s"""WITH $thCte, $shCte,
           |tx_t AS (SELECT t.doc_id, t.text, s.sh FROM th_t t JOIN sh_t s ON t.doc_id = s.doc_id)
           |SELECT doc_id,
           |       ${simhashSql("sh")} AS simhash,
           |       CASE WHEN length(text) >= 8 THEN
           |         list_min(list_transform(generate_series(1, length(text) - 7),
           |           i -> CAST(list_sum(list_transform(generate_series(0, 7),
           |                  k -> ord(substr(text, i + k, 1)) * CAST(pow(31, 7 - k) AS BIGINT))) AS BIGINT)
           |                % 1000003))
           |       ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
           |              list_transform(generate_series(1, length(text)),
           |                i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
           |              (a, b) -> (a * 31 + b) % 1000003) END AS fp_min8
           |FROM tx_t
           |ORDER BY doc_id""".stripMargin),
      (s, d) => docs(s, d)
        .select(col("doc_id"),
          NativeText.simhash20(NativeText.shingleHashesOfText(col("text"))).as("simhash"),
          NativeText.rollingMinHash8(col("text")).as("fp_min8"))
        .orderBy("doc_id")),

    // ---- q33: MinHash signatures — 8 universal-hash minima over the 3-gram
    // shingle hashes. Map-only kernel of the LSH pipeline; the signature is
    // 64 bytes/doc regardless of document size, which is what makes
    // petabyte-scale near-dup feasible.
    Q("q33_minhash_sig",
      Some(
        s"""WITH $thCte, $shCte
           |SELECT doc_id, ${(0 until 8).map(k => mhSql(k) + s" AS mh$k").mkString(",\n       ")}
           |FROM sh_t
           |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        // materialize the shingle array once; the native one-pass kernel
        // (round 4) computes all 8 minima in a single array walk where the
        // declarative form paid 8 interpreted HOF walks. The size guard
        // reproduces array_min's null-on-empty, which the total-function
        // kernel (empty array) cannot express in codegen.
        val base = docs(s, d).select(col("doc_id"),
          NativeText.shingleHashesOfText(col("text")).as("sh"))
        val withMh = base.select(col("doc_id"), col("sh"),
          NativeText.minhash8(col("sh")).as("mh8"))
        withMh
          .select(col("doc_id") +: (0 until 8).map(k =>
            when(size(col("sh")) > 0, element_at(col("mh8"), k + 1)).as(s"mh$k")): _*)
          .orderBy("doc_id")
      }),

    // ---- q34: MinHash-LSH near-duplicate pairs — band the 8-hash signature
    // into 4 bands of 2, equi-join on (band, key) for candidates, then
    // verify candidates with the exact shingle-set Jaccard (integer
    // arithmetic: inter*10 >= union <=> J >= 0.1). The candidate join is a
    // hash-partitioned equi-join on band keys — NEVER all-pairs — and the
    // verify join only touches candidate rows. This is the scalable
    // dedup shape: O(corpus) banding + O(candidates) verification.
    Q("q34_neardup_lsh",
      Some(
        s"""WITH $thCte, $shCte,
           |mh_t AS (
           |  SELECT doc_id, ${(0 until 8).map(k => mhSql(k) + s" AS mh$k").mkString(",\n         ")}
           |  FROM sh_t),
           |bands AS (
           |  ${(0 until 4).map(b =>
                s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || ':' || CAST(mh${2 * b + 1} AS VARCHAR) AS bkey FROM mh_t")
                .mkString("\n  UNION ALL ")}),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |ss_t AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh_t)
           |SELECT i, j,
           |       CAST(len(list_intersect(x.ss, y.ss)) AS BIGINT) AS inter,
           |       CAST(len(x.ss) + len(y.ss) - len(list_intersect(x.ss, y.ss)) AS BIGINT) AS uni
           |FROM cand JOIN ss_t x ON x.doc_id = i JOIN ss_t y ON y.doc_id = j
           |WHERE len(list_intersect(x.ss, y.ss)) * 10 >= len(x.ss) + len(y.ss) - len(list_intersect(x.ss, y.ss))
           |ORDER BY i, j""".stripMargin),
      (s, d) => {
        // r15: sig feeds both band sides AND the shingle-set verify — the
        // shingle+minhash kernels ran once per consumer (3×). Persist the
        // signature frame (sh + mh8 per doc) so the kernels run once.
        graft.operators.CacheScope.release("q34")
        val sig = graft.operators.CacheScope.persist("q34", docs(s, d)
          .select(col("doc_id"), NativeText.shingleHashesOfText(col("text")).as("sh"))
          .select(col("doc_id"), col("sh"),
            NativeText.minhash8(col("sh")).as("mh8")))
        val base = sig
        // empty-shingle docs get a NULL bkey (never equi-joins) — matching
        // the oracle's NULL-propagating '||' concat; concat_ws alone would
        // skip the null halves and emit a joinable "" key
        def mhk(k: Int) = element_at(col("mh8"), k + 1)
        val bands = sig.select(col("doc_id"), explode(array(
          (0 until 4).map(b => struct(lit(b).as("band"),
            when(size(col("sh")) > 0,
              concat_ws(":", mhk(2 * b), mhk(2 * b + 1))).as("bkey"))): _*)).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
        val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
          .distinct()
        val ss = base.select(col("doc_id"), array_distinct(col("sh")).as("ss"))
        val inter = size(array_intersect(col("x.ss"), col("y.ss"))).cast("long")
        val uni = size(col("x.ss")).cast("long") + size(col("y.ss")).cast("long") - inter
        cand
          .join(ss.as("x"), col("i") === col("x.doc_id"))
          .join(ss.as("y"), col("j") === col("y.doc_id"))
          .filter(inter * 10L >= uni)
          .select(col("i"), col("j"), inter.as("inter"), uni.as("uni"))
          .orderBy("i", "j")
      }),

    // ---- q35: SimHash near-duplicate pairs — candidates from equality on
    // any of the 4 five-bit fingerprint bands, verified by Hamming distance
    // (bit_count of XOR) <= 3. With 4 bands, any pair within Hamming 3 has
    // at least one clean band (pigeonhole), so banding loses NO recall at
    // this radius. Same no-all-pairs LSH shape as q34 with a constant-size
    // fingerprint — the cheapest near-dup screen.
    Q("q35_neardup_simhash",
      Some(
        s"""WITH $thCte, $shCte,
           |sim_t AS (SELECT doc_id, ${simhashSql("sh")} AS simhash FROM sh_t),
           |bands AS (
           |  ${(0 until 4).map(b =>
                s"SELECT doc_id, simhash, $b AS band, (simhash // ${1L << (5 * b)}) % 32 AS bval FROM sim_t")
                .mkString("\n  UNION ALL ")}),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j, a.simhash AS sh_i, b.simhash AS sh_j
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
           |SELECT i, j, CAST(bit_count(xor(sh_i, sh_j)) AS BIGINT) AS hamming
           |FROM cand
           |WHERE bit_count(xor(sh_i, sh_j)) <= 3
           |ORDER BY i, j""".stripMargin),
      (s, d) => {
        // r15: sim feeds both band self-join sides — persist the tiny
        // (doc_id, simhash) frame so the shingle+simhash kernel runs once
        graft.operators.CacheScope.release("q35")
        val sim = graft.operators.CacheScope.persist("q35", docs(s, d)
          .select(col("doc_id"),
            NativeText.simhash20(NativeText.shingleHashesOfText(col("text"))).as("simhash")))
        val bands = sim.select(col("doc_id"), col("simhash"), explode(array(
          (0 until 4).map(b => struct(lit(b).as("band"),
            (shiftright(col("simhash"), 5 * b) % 32L).as("bval"))): _*)).as("bk"))
          .select(col("doc_id"), col("simhash"),
            col("bk.band").as("band"), col("bk.bval").as("bval"))
        val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
            col("a.simhash").as("sh_i"), col("b.simhash").as("sh_j"))
          .distinct()
        val ham = bit_count(col("sh_i").bitwiseXOR(col("sh_j"))).cast("long")
        cand.filter(ham <= 3L)
          .select(col("i"), col("j"), ham.as("hamming"))
          .orderBy("i", "j")
      }),

    // ---- q63: near-dup CLUSTERS — connected components over the q35
    // SimHash pair graph via graft.operators.Components.altStar
    // (large-star/small-star: O(log d) rounds, vs O(d) for min-label — same
    // unique min-id fixpoint), the step every dedup pipeline needs between
    // pairwise matches and survivor election: cluster_id = min doc_id of
    // the component, singletons cluster to themselves. The oracle computes
    // the same fixpoint via a recursive transitive-closure CTE.
    Q("q63_dedup_clusters",
      Some(
        s"""WITH RECURSIVE $thCte, $shCte,
           |sim_t AS (SELECT doc_id, ${simhashSql("sh")} AS simhash FROM sh_t),
           |bands AS (
           |  ${(0 until 4).map(b =>
                s"SELECT doc_id, simhash, $b AS band, (simhash // ${1L << (5 * b)}) % 32 AS bval FROM sim_t")
                .mkString("\n  UNION ALL ")}),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j, a.simhash AS sh_i, b.simhash AS sh_j
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id),
           |e AS (SELECT i, j FROM cand WHERE bit_count(xor(sh_i, sh_j)) <= 3),
           |es AS (SELECT i AS a, j AS b FROM e UNION SELECT j AS a, i AS b FROM e),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM sim_t
           |  UNION
           |  SELECT r.a, es.b FROM reach r JOIN es ON r.b = es.a)
           |SELECT a AS doc_id, MIN(b) AS cluster_id
           |FROM reach GROUP BY a
           |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        // Contract exact-duplicate groups BEFORE the pair graph: identical
        // text => identical fingerprint => same component, so only one
        // representative (the group's min doc_id) needs to band, verify,
        // and iterate through CC. Components are preserved exactly — every
        // edge between members of two exact groups induces the same edge
        // between their representatives — and the component minimum IS a
        // representative (the min doc of a component is the min of its own
        // exact group), so lifting rep clusters back over the group
        // mapping reproduces the uncontracted fixpoint bit-for-bit. On a
        // real corpus (20-50% exact dups) this halves the CC input; the
        // price is one content-hash shuffle the dedup pipeline (q28) pays
        // anyway.
        // rep = min doc_id over the content-hash group. Round 6 A/B'd the
        // r5 window form (ONE exchange, but it moves full (doc_id, text)
        // rows) against this groupBy + join-back: the aggregation
        // exchange carries only (hash, partial-min/count) — text never
        // shuffles — and the join-back side is restricted to TRUE dup
        // groups (n_copies > 1; singletons rep to themselves via
        // coalesce), which is bounded by actual duplication, hence
        // size-gated-broadcastable at sf AND the natural skew-free shape
        // at corpus scale (degrades to a shuffle join only if dup groups
        // genuinely outgrow the threshold). Persisted: the fingerprint
        // branch and the final lift both consume it.
        graft.operators.CacheScope.release("q63")
        val dupGroups = docs(s, d)
          .groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("grp_rep"), count(lit(1)).as("nc"))
          .filter(col("nc") > 1L)
          .select("h", "grp_rep")
        val withRep = graft.operators.CacheScope.persist("q63",
          docs(s, d).select(col("doc_id"), col("text"), md5(col("text")).as("h"))
            .join(graft.operators.Joins.dimBroadcast(dupGroups), Seq("h"), "left")
            .select(col("doc_id"), col("text"),
              coalesce(col("grp_rep"), col("doc_id")).as("rep")))
        // r15: sim feeds both band sides + the CC node frame — persist the
        // tiny rep fingerprints so the shingle+simhash kernel runs once
        val sim = graft.operators.CacheScope.persist("q63",
          withRep.filter(col("doc_id") === col("rep"))
            .select(col("doc_id"),
              NativeText.simhash20(NativeText.shingleHashesOfText(col("text"))).as("simhash")))
        val bands = sim.select(col("doc_id"), col("simhash"), explode(array(
          (0 until 4).map(b => struct(lit(b).as("band"),
            (shiftright(col("simhash"), 5 * b) % 32L).as("bval"))): _*)).as("bk"))
          .select(col("doc_id"), col("simhash"),
            col("bk.band").as("band"), col("bk.bval").as("bval"))
        val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
            col("a.simhash").as("sh_i"), col("b.simhash").as("sh_j"))
          .distinct()
        val e = cand
          .filter(bit_count(col("sh_i").bitwiseXOR(col("sh_j"))) <= 3)
          .select("i", "j")
        // auto: size-gated single-task union-find (the sf / daily-delta
        // regime — one job instead of ~5 iterative rounds) with altStar
        // as the scale path once edges outgrow one partition.
        val repClusters = graft.operators.Components
          .auto(sim.select("doc_id"), "doc_id", e, "i", "j")._1
          .toDF("rep", "cluster_id")
        withRep.select(col("doc_id"), col("rep"))
          .join(repClusters, "rep")
          .select(col("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      }),

    // ---- q64: deterministic train/val/test split — hash-bucket sharding
    // (md5(doc_id) % 100 -> 80/10/10), the reproducible way to split a
    // corpus: stable under reruns, cluster size, and partitioning, unlike
    // RNG sampling (df.sample), and exactly reproducible by the oracle.
    // Map-only; at 100 TB the split IS the scan.
    Q("q64_hash_split",
      Some("""WITH b AS (SELECT lang,
             |  CAST(list_sum(list_transform(generate_series(1, 4),
             |    i -> (CASE WHEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) >= 97
             |          THEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 87
             |          ELSE ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 48 END)
             |         * CAST(pow(16, 4 - i) AS BIGINT))) AS BIGINT) % 100 AS bucket
             |  FROM documents)
             |SELECT CASE WHEN bucket < 80 THEN 'train'
             |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
             |       lang, COUNT(*) AS n
             |FROM b
             |GROUP BY 1, 2
             |ORDER BY split, lang""".stripMargin),
      (s, d) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100
        docs(s, d)
          .withColumn("split", when(bucket < 80, "train")
            .when(bucket < 90, "val").otherwise("test"))
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("split", "lang")
      }),

    // ---- q52: the pure-SQL entry to the native kernels — the same
    // fingerprints as q32 but written as SQL TEXT against functions
    // registered by graft.GraftExtensions (spark.sql.extensions /
    // install()). Proves a SQL-only user gets the codegen expressions;
    // the oracle is q32's, so SQL surface == Column surface == DuckDB.
    Q("q52_sql_extensions",
      Some(
        s"""WITH $thCte, $shCte,
           |tx_t AS (SELECT t.doc_id, t.text, s.sh FROM th_t t JOIN sh_t s ON t.doc_id = s.doc_id)
           |SELECT doc_id,
           |       ${simhashSql("sh")} AS simhash,
           |       CASE WHEN length(text) >= 8 THEN
           |         list_min(list_transform(generate_series(1, length(text) - 7),
           |           i -> CAST(list_sum(list_transform(generate_series(0, 7),
           |                  k -> ord(substr(text, i + k, 1)) * CAST(pow(31, 7 - k) AS BIGINT))) AS BIGINT)
           |                % 1000003))
           |       ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
           |              list_transform(generate_series(1, length(text)),
           |                i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
           |              (a, b) -> (a * 31 + b) % 1000003) END AS fp_min8
           |FROM tx_t
           |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        graft.GraftExtensions.install(s)
        docs(s, d).createOrReplaceTempView("graft_documents")
        s.sql("""SELECT doc_id,
                |       graft_simhash20(graft_shingle_hashes(text)) AS simhash,
                |       graft_rolling_minhash8(text) AS fp_min8
                |FROM graft_documents
                |ORDER BY doc_id""".stripMargin)
      }),

    // ---- q66: rule-based quality FILTER (Gopher-style) — the stage that
    // consumes q29's metrics: named, thresholded rules with a reasons
    // column explaining every rejection (auditable filtering, the way
    // production corpus curation reports drop causes). All comparisons in
    // exact integer cross-multiplication (nd*5 < nt*2 == TTR < 0.4), no
    // floats. Map-only: at 100 TB the filter is the scan.
    Q("q66_quality_filter",
      Some("""WITH s AS (SELECT doc_id, lang,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
             |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS BIGINT) AS st
             |FROM documents)
             |SELECT doc_id, lang,
             |  nt < 25 AS few_tokens,
             |  nd * 5 < nt * 2 AS low_ttr,
             |  st * 10 > nt AS stopwordy,
             |  concat_ws(',',
             |    CASE WHEN nt < 25 THEN 'few_tokens' END,
             |    CASE WHEN nd * 5 < nt * 2 THEN 'low_ttr' END,
             |    CASE WHEN st * 10 > nt THEN 'stopwordy' END) AS reasons,
             |  NOT (nt < 25 OR nd * 5 < nt * 2 OR st * 10 > nt) AS keep
             |FROM s
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val nt = size(toks).cast("long")
        val nd = size(array_distinct(toks)).cast("long")
        val st = size(filter(toks, t => t.isin("the", "a"))).cast("long")
        val few = nt < 25L
        val ttr = nd * 5L < nt * 2L
        val stw = st * 10L > nt
        docs(s, d).select(
          col("doc_id"), col("lang"),
          few.as("few_tokens"), ttr.as("low_ttr"), stw.as("stopwordy"),
          concat_ws(",",
            when(few, "few_tokens"),
            when(ttr, "low_ttr"),
            when(stw, "stopwordy")).as("reasons"),
          (!(few || ttr || stw)).as("keep"))
          .orderBy("doc_id")
      }),

    // ---- q67: TF-IDF top terms per document — the retrieval/relevance
    // companion of the q59 inverted index. tf and df are exact counts; the
    // only float is one ln(N/df) per DISTINCT (N, df) pair, frozen to
    // integer micro-units (round = HALF_UP in both engines) before the
    // exact tf multiply. The df table is vocabulary-sized → broadcast (a
    // corpus whose vocabulary outgrows broadcast flips this to a shuffle
    // join on token — same plan Catalyst picks when the stats say so);
    // top-5 per doc via one window over doc_id.
    Q("q67_tfidf",
      Some("""WITH tf_t AS (
             |  SELECT doc_id, tok AS token, COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY 1, 2),
             |df_t AS (SELECT token, COUNT(*) AS df FROM tf_t GROUP BY 1),
             |n_t AS (SELECT COUNT(*) AS n FROM documents),
             |x_t AS (
             |  SELECT tf_t.doc_id, tf_t.token, tf_t.tf,
             |         tf_t.tf * CAST(round(ln(CAST(n_t.n AS DOUBLE) / df_t.df) * 1000000) AS BIGINT) AS tfidf_micro
             |  FROM tf_t JOIN df_t ON tf_t.token = df_t.token CROSS JOIN n_t),
             |r_t AS (
             |  SELECT doc_id, token, tf, tfidf_micro,
             |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_micro DESC, token) AS rnk
             |  FROM x_t)
             |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, tfidf_micro, CAST(rnk AS BIGINT) AS rnk
             |FROM r_t WHERE rnk <= 5
             |ORDER BY doc_id, rnk""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // r15: tf feeds the doc-frequency broadcast AND the join probe
        // side, and the broadcast build gates the join — the explode +
        // pair shuffle ran twice, sequentially. Persist one generation.
        graft.operators.CacheScope.release("q67")
        val tf = graft.operators.CacheScope.persist("q67", docs(s, d)
          .select(col("doc_id"), explode(toks).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
        val dfT = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val nT = docs(s, d).agg(count(lit(1)).as("n"))
        tf.join(broadcast(dfT), "token")
          .crossJoin(broadcast(nT))
          .withColumn("tfidf_micro",
            col("tf") * round(log(col("n").cast("double") / col("df")) * 1000000d).cast("long"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("doc_id"))
              .orderBy(col("tfidf_micro").desc, col("token"))).cast("long"))
          .filter(col("rnk") <= 5)
          .select(col("doc_id"), col("token"), col("tf"), col("tfidf_micro"), col("rnk"))
          .orderBy("doc_id", "rnk")
      }),

    // ---- q70: deterministic stratified sampling — per-class rates for
    // corpus rebalancing (downweight the overrepresented language, keep
    // all of the rare one). Same md5 hash-bucket mechanism as the q64
    // split, so the sample is exactly reproducible under reruns, cluster
    // size, and partitioning — which RNG df.sample/sampleBy is not, and
    // why it can't be oracle-checked. Map-only.
    Q("q70_stratified_sample",
      Some("""WITH b AS (SELECT doc_id, lang,
             |  CAST(list_sum(list_transform(generate_series(1, 4),
             |    i -> (CASE WHEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) >= 97
             |          THEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 87
             |          ELSE ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 48 END)
             |         * CAST(pow(16, 4 - i) AS BIGINT))) AS BIGINT) % 100 AS bucket
             |  FROM documents)
             |SELECT doc_id, lang
             |FROM b
             |WHERE bucket < (CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 100 ELSE 50 END)
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100
        val rate = when(col("lang") === "en", 20L)
          .when(col("lang") === "zh", 100L).otherwise(50L)
        docs(s, d)
          .filter(bucket < rate)
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      }),

    // ---- q71: bigram frequency per language — the n-gram statistics an
    // LM-training pipeline reports (and the n-gram Jaccard dedup family
    // builds on). Bigrams come from the native codegen n-gram kernel
    // (NativeText.wordNgrams — one tokenize + tight loop per row; the
    // declarative zip_with form survives as the property-checked spec in
    // Text.wordNgrams). Counting is partial-agg → one vocabulary²-bounded
    // shuffle; top-10 per lang.
    Q("q71_ngram_freq",
      Some("""WITH g AS (
             |  SELECT lang, unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
             |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bigram
             |  FROM documents),
             |c AS (SELECT lang, bigram, COUNT(*) AS n FROM g GROUP BY 1, 2),
             |r AS (SELECT lang, bigram, n,
             |             row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
             |      FROM c)
             |SELECT lang, bigram, n, CAST(rnk AS BIGINT) AS rnk
             |FROM r WHERE rnk <= 10
             |ORDER BY lang, rnk""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        docs(s, d)
          .select(col("lang"), explode(NativeText.wordNgrams(col("text"), 2)).as("bigram"))
          .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("lang"))
              .orderBy(col("n").desc, col("bigram"))).cast("long"))
          .filter(col("rnk") <= 10)
          .orderBy("lang", "rnk")
      }),

    // ---- q72: repetition ratio — the Gopher-style repetition rule the
    // q66 filter family needs: fraction of a document occupied by its most
    // frequent bigram (boilerplate/template detector). Per-doc bigram
    // counting is a partial-agg shuffle keyed by (doc, bigram) — fan-in
    // bounded per document, never corpus-wide; the ratio is exact integer
    // micro-units.
    Q("q72_repetition",
      Some("""WITH g AS (
             |  SELECT doc_id, unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
             |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bigram
             |  FROM documents),
             |c AS (SELECT doc_id, bigram, COUNT(*) AS n FROM g GROUP BY 1, 2),
             |m AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams, CAST(MAX(n) AS BIGINT) AS max_rep
             |      FROM c GROUP BY 1)
             |SELECT doc_id, n_bigrams, max_rep,
             |       CAST(max_rep * 1000000 // n_bigrams AS BIGINT) AS rep_micro,
             |       max_rep * 10 > n_bigrams AS repetitive
             |FROM m
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        docs(s, d)
          .select(col("doc_id"), explode(NativeText.wordNgrams(col("text"), 2)).as("bigram"))
          .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(sum(col("n")).as("n_bigrams"), max(col("n")).as("max_rep"))
          .select(col("doc_id"), col("n_bigrams"), col("max_rep"),
            floor(col("max_rep") * 1000000L / col("n_bigrams")).cast("long").as("rep_micro"),
            (col("max_rep") * 10L > col("n_bigrams")).as("repetitive"))
          .orderBy("doc_id")
      }),

    // ---- q73: benchmark decontamination — flag corpus documents sharing
    // any 13-gram with the held-out benchmark set (source='src0' stands in
    // for the eval suite), the standard n-gram-overlap decontamination rule
    // for LM training corpora. Scale shape: the benchmark gram set is
    // small by nature (eval suites are MBs; the corpus is TBs), so it
    // BROADCASTS — the corpus side stays map-local except one distinct on
    // (doc_id, gram) whose fan-in is per-document. No corpus-side
    // self-join anywhere.
    Q("q73_decontaminate",
      Some("""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
             |g AS (SELECT doc_id, source, unnest(list_transform(generate_series(1, len(t) - 12),
             |        i -> list_aggregate(t[i:i+12], 'string_agg', ' '))) AS gram FROM tk),
             |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
             |cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0'),
             |hits AS (SELECT doc_id, count(*) AS hit_grams FROM cg
             |         WHERE gram IN (SELECT gram FROM bench) GROUP BY 1)
             |SELECT d.doc_id, CAST(COALESCE(h.hit_grams, 0) AS BIGINT) AS hit_grams,
             |       COALESCE(h.hit_grams, 0) > 0 AS contaminated
             |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
             |LEFT JOIN hits h ON d.doc_id = h.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        // No persist here: the source filters push BELOW the explode
        // (PushPredicateThroughGenerate), so the benchmark branch explodes
        // only the small benchmark slice and the corpus branch only the
        // rest — zero overlapping work. Materializing the full gram table
        // would explode 100% up front and put cache I/O on the broadcast's
        // critical path for nothing.
        val grams = base.select(col("doc_id"), col("source"),
          explode(NativeText.wordNgrams(col("text"), 13)).as("gram"))
        val bench = grams.filter(col("source") === "src0").select("gram").distinct()
        val corpusGrams = grams.filter(col("source") =!= "src0")
          .select("doc_id", "gram").distinct()
        // Benchmark grams broadcast: eval sets are bounded regardless of
        // corpus scale (explicit hint, not size-gated — the asymmetry is
        // structural, not statistical).
        val hits = corpusGrams.join(broadcast(bench), "gram")
          .groupBy("doc_id").agg(count(lit(1)).as("hit_grams"))
        base.filter(col("source") =!= "src0").select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("hit_grams"), lit(0L)).as("hit_grams"))
          .withColumn("contaminated", col("hit_grams") > 0L)
          .orderBy("doc_id")
      }),

    // ---- q74: n-gram Jaccard set-similarity self-join with PREFIX
    // FILTERING (All-Pairs / PPJoin family) — the deterministic,
    // full-recall complement to q34's probabilistic MinHash LSH. Global
    // order = ascending document frequency (rarest first, ties by gram);
    // a pair with Jaccard >= 0.5 must share a gram inside both prefixes of
    // length |s| - ceil(0.5|s|) + 1, so the candidate join keys on PREFIX
    // grams only — rare by construction, so bucket fan-in stays bounded
    // where a join on ANY shared gram would degenerate on common n-grams.
    // Verification touches candidates only (exact integer Jaccard;
    // 3*inter >= n1+n2 <=> jac >= 0.5). SetSimilaritySpec proves full
    // recall against the brute-force all-pairs result.
    Q("q74_ngram_jaccard",
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |g AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, len(t) - 4),
             |        i -> list_aggregate(t[i:i+4], 'string_agg', ' '))) AS gram FROM tk),
             |f AS (SELECT gram, count(*) AS df FROM g GROUP BY 1),
             |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
             |r AS (SELECT g.doc_id, g.gram,
             |             row_number() OVER (PARTITION BY g.doc_id ORDER BY f.df, g.gram) AS rnk,
             |             sz.n
             |      FROM g JOIN f USING (gram) JOIN sz USING (doc_id)),
             |p AS (SELECT doc_id, gram FROM r WHERE rnk <= n - (n + 1) // 2 + 1),
             |c AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             |      FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
             |ix AS (SELECT c.d1, c.d2, count(*) AS inter
             |       FROM c JOIN g g1 ON g1.doc_id = c.d1
             |              JOIN g g2 ON g2.doc_id = c.d2 AND g2.gram = g1.gram
             |       GROUP BY 1, 2)
             |SELECT ix.d1, ix.d2, CAST(ix.inter AS BIGINT) AS inter,
             |       CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2,
             |       CAST(ix.inter * 1000000 // (s1.n + s2.n - ix.inter) AS BIGINT) AS jac_micro
             |FROM ix JOIN sz s1 ON ix.d1 = s1.doc_id JOIN sz s2 ON ix.d2 = s2.doc_id
             |WHERE 3 * ix.inter >= s1.n + s2.n
             |ORDER BY d1, d2""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // The gram table feeds four consumers (frequency order, prefix
        // join both sides, verify sets). Catalyst folds the shared
        // distinct() into each consumer differently, so exchange reuse
        // never fires and the n-gram explode would run once PER consumer
        // — persist() materializes it once (MEMORY_AND_DISK: spills, never
        // OOMs; at corpus scale this is the standard price of reuse >= 2,
        // same tradeoff Spark ML's LSH models make). CacheScope bounds the
        // handles' lifetime to one live generation per rebuild — no
        // session-lifetime leak.
        graft.operators.CacheScope.release("q74")
        val grams = graft.operators.CacheScope.persist("q74", docs(s, d)
          .select(col("doc_id"), explode(NativeText.wordNgrams(col("text"), 5)).as("gram"))
          .distinct())
        // df / per-doc rank / set size via windows: the doc-keyed windows
        // share ONE exchange (vs separate aggregate+join-back subplans).
        val wd = Window.partitionBy(col("doc_id"))
        val prefix = graft.operators.CacheScope.persist("q74", grams
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
          .withColumn("rnk", row_number().over(wd.orderBy(col("df"), col("gram"))))
          .withColumn("n", count(lit(1)).over(wd))
          .filter(col("rnk") <= col("n") - floor((col("n") + 1) / 2) + 1)
          .select("doc_id", "gram"))
        val cands = prefix.as("a").join(prefix.as("b"),
            col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
        // Verify stage: candidate pairs only. Gram sets ride along as
        // per-document arrays (bounded by document length), so the exact
        // intersection is a local array op — no second corpus-wide join.
        // r16: sets is PERSISTED (its two consumers are the two attach
        // sides of the candidate join — the sequential-consumer persist
        // rule; the runtime plan showed the collect_set ObjectHashAgg
        // running twice), and the intersection count is the native
        // merge-walk kernel over the sorted distinct arrays instead of
        // hash-based array_intersect materializing the common elements.
        val sets = graft.operators.CacheScope.persist("q74", grams.groupBy("doc_id")
          .agg(sort_array(collect_set(col("gram"))).as("gs")))
        cands
          .join(sets.select(col("doc_id").as("d1"), col("gs").as("gs1")), "d1")
          .join(sets.select(col("doc_id").as("d2"), col("gs").as("gs2")), "d2")
          .select(col("d1"), col("d2"),
            NativeText.sortedIntersectCount(col("gs1"), col("gs2")).as("inter"),
            size(col("gs1")).cast("long").as("n1"),
            size(col("gs2")).cast("long").as("n2"))
          .filter(col("inter") * 3 >= col("n1") + col("n2"))
          .withColumn("jac_micro",
            floor(col("inter") * 1000000L / (col("n1") + col("n2") - col("inter"))).cast("long"))
          .select("d1", "d2", "inter", "n1", "n2", "jac_micro")
          .orderBy("d1", "d2")
      }),

    // ---- q75: duplicate-chunk fraction — per document, the fraction of
    // its non-overlapping 10-token chunks that also occur in ANY other
    // document (the Gopher "duplicate n-gram fraction" corpus-quality
    // metric; within-doc repetition is q72's job). One shuffle keyed by
    // chunk text to get document frequencies, one join back keyed the same
    // way, one per-doc agg — chunk fan-in is bounded by true cross-corpus
    // duplication, which is exactly the signal being measured.
    Q("q75_chunk_dup",
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |c AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) // 10),
             |        j -> list_aggregate(t[(j-1)*10+1:j*10], 'string_agg', ' '))) AS chunk FROM tk),
             |w AS (SELECT chunk, count(*) AS docs_with
             |      FROM (SELECT DISTINCT doc_id, chunk FROM c) GROUP BY 1)
             |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |       CAST(SUM(CASE WHEN w.docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
             |       CAST(SUM(CASE WHEN w.docs_with >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_frac_micro
             |FROM c JOIN w USING (chunk)
             |GROUP BY 1
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        // Re-exploding chunks for the second consumer is cheap map-side
        // work (native kernel, no shuffle) — recompute beats caching a
        // corpus-sized table at scale, so no persist here. (r15 re-tested
        // the q87-style pairs restructure: MEASURED SLOWER at sf0.1
        // (0.52 → 0.61 s min quiet-normalized) — chunks are only 1/10 of
        // the token count, so the saved shuffle is smaller than the added
        // materialization barrier; reverted. q87's ×10-fan-out windows are
        // the shape where that restructure wins.)
        val chunks = docs(s, d)
          .select(col("doc_id"), explode(NativeText.wordChunks(col("text"), 10)).as("chunk"))
        val docsWith = chunks.select("doc_id", "chunk").distinct()
          .groupBy("chunk").agg(count(lit(1)).as("docs_with"))
        chunks.join(docsWith, "chunk")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("docs_with") >= 2L, 1L).otherwise(0L)).as("n_dup_chunks"))
          .withColumn("dup_frac_micro",
            floor(col("n_dup_chunks") * 1000000L / col("n_chunks")).cast("long"))
          .orderBy("doc_id")
      }),

    // ---- q87: exact-substring dedup via SLIDING token windows — closes
    // q75's boundary gap: tumbling 10-token chunks miss a duplicated span
    // that straddles a chunk boundary (a 10-token span can cover at most
    // one full chunk only when aligned), while EVERY 10-token duplicated
    // span matches at least one of the overlapping windows — the
    // training-data literature's exact-substring dedup (suffix-style
    // overlapping windows) in its shuffle-friendly form. Same two-shuffle
    // shape as q75 (window df, join back, per-doc agg); the price of full
    // span coverage is fan-OUT — ~k windows per k-token doc vs k/10
    // chunks, a constant 10x on the explode — while per-WINDOW join
    // fan-in stays bounded by true cross-corpus duplication, exactly
    // q75's argument (a window shared by m docs costs m joined rows, and
    // that sharing IS the measured signal). At 100 TB the join key would
    // be a 128-bit window hash instead of the window string (same
    // construction, 16-byte shuffle rows); the string key here keeps the
    // oracle construction identical term-for-term.
    Q("q87_substring_dup",
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |c AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 9),
             |        i -> list_aggregate(t[i:i+9], 'string_agg', ' '))) AS win FROM tk),
             |w AS (SELECT win, count(*) AS docs_with
             |      FROM (SELECT DISTINCT doc_id, win FROM c) GROUP BY 1)
             |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
             |       CAST(SUM(CASE WHEN w.docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
             |       CAST(SUM(CASE WHEN w.docs_with >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_frac_micro
             |FROM c JOIN w USING (win)
             |GROUP BY 1
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        // r15 restructure (guide §2.3/§2.4; result identical). Two
        // observations kill the heaviest exchange and one of the two
        // ngram-kernel passes:
        //  (1) n_windows per doc is just len(tokens) - 9 — a map-side
        //      projection, no explode and no shuffle;
        //  (2) n_dup_windows = Σ k(doc, win) over windows with ≥2
        //      DISTINCT docs, so the join only needs the distinct
        //      (doc, win) pairs with their occurrence count k — the old
        //      plan shuffled EVERY window occurrence (×10 corpus) by its
        //      60-byte window string into a sort-merge join; now the
        //      duplicated-window vocabulary (signal-sized) joins against
        //      the distinct pairs, and AQE broadcasts it at small sf.
        val base = docs(s, d)
        val nw = base.select(col("doc_id"),
            (size(tokens(col("text"))).cast("long") - 9L).as("n_windows"))
          .filter(col("n_windows") >= 1L)
        graft.operators.CacheScope.release("q87")
        // SCALE GATE (r16, ADVICE r15): cw is ~10x-corpus-sized (one
        // 10-gram string per token), so the persist that wins at bench
        // scale (kernel 2x -> 1x, measured r15) becomes a heavy
        // MEMORY_AND_DISK spill at 100 TB. Gate it on input bytes —
        // above the cap the two consumers recompute the kernel instead,
        // which is the cheaper failure mode at corpus scale. Results are
        // persist-independent either way.
        val persistCap = sys.env.getOrElse(
          "SPARK_GRAFT_PERSIST_CAP_BYTES", (8L << 30).toString).toLong
        val cwPlan = base
          .select(col("doc_id"), explode(NativeText.wordNgrams(col("text"), 10)).as("win"))
          .groupBy(col("doc_id"), col("win")).agg(count(lit(1)).as("k"))
        val cw =
          if (graft.sources.Tables.inputBytes(d, "documents") <= persistCap)
            graft.operators.CacheScope.persist("q87", cwPlan)
          else cwPlan
        val dupW = cw.groupBy("win").agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2L).select("win")
        val dup = cw.join(dupW, "win")
          .groupBy("doc_id").agg(sum(col("k")).as("nd_w"))
        nw.join(dup, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_windows"),
            coalesce(col("nd_w"), lit(0L)).as("n_dup_windows"))
          .withColumn("dup_frac_micro",
            floor(col("n_dup_windows") * 1000000L / col("n_windows")).cast("long"))
          .orderBy("doc_id")
      }),

    // ---- q76: token-budget estimation — whitespace word count vs a
    // BPE-ish regex piece count (runs of <=4 word chars, the "~4 chars per
    // token" budgeting rule; punctuation would count as single pieces).
    // The regex runs identically under Java regex and DuckDB's RE2
    // (greedy, left-to-right, no backtracking difference on this
    // pattern). Map-only per doc; the totals row an ingest pipeline
    // reports before a training run.
    Q("q76_token_budget",
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |       CAST(len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS BIGINT) AS bpe_pieces,
             |       CAST(len(regexp_extract_all(text, '[a-z0-9]{1,4}')) * 1000000
             |            // len(string_split(text, ' ')) AS BIGINT) AS pieces_per_word_micro
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val pieces = size(regexp_extract_all(col("text"), lit("[a-z0-9]{1,4}"), lit(0)))
          .cast("long")
        val words = size(tokens(col("text"))).cast("long")
        docs(s, d)
          .select(col("doc_id"), words.as("ws_tokens"), pieces.as("bpe_pieces"),
            floor(pieces * 1000000L / words).cast("long").as("pieces_per_word_micro"))
          .orderBy("doc_id")
      }),

    // ---- q77: decontamination via BLOOM-FILTER semi-join pruning — the
    // 100 TB form of q73. When the benchmark gram set outgrows the
    // broadcast-hash-join threshold, a Bloom filter (~1.2 bytes/item at
    // 1% fpp vs ~50+ bytes/entry for a hash table) still broadcasts: the
    // corpus side is pruned BEFORE any shuffle, and the exact join then
    // removes the false positives — a superset pre-filter, so the result
    // (and the oracle) is IDENTICAL to q73. BloomSpec asserts equality
    // with q73 and measures the pruning rate.
    Q("q77_decontaminate_bloom",
      Some("""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
             |g AS (SELECT doc_id, source, unnest(list_transform(generate_series(1, len(t) - 12),
             |        i -> list_aggregate(t[i:i+12], 'string_agg', ' '))) AS gram FROM tk),
             |bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
             |cg AS (SELECT DISTINCT doc_id, gram FROM g WHERE source <> 'src0'),
             |hits AS (SELECT doc_id, count(*) AS hit_grams FROM cg
             |         WHERE gram IN (SELECT gram FROM bench) GROUP BY 1)
             |SELECT d.doc_id, CAST(COALESCE(h.hit_grams, 0) AS BIGINT) AS hit_grams,
             |       COALESCE(h.hit_grams, 0) > 0 AS contaminated
             |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
             |LEFT JOIN hits h ON d.doc_id = h.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        import graft.functions.Bloom
        val base = docs(s, d).select(col("doc_id"), col("source"), col("text"))
        val grams = base.select(col("doc_id"), col("source"),
          explode(NativeText.wordNgrams(col("text"), 13)).as("gram"))
        val bench = grams.filter(col("source") === "src0").select("gram").distinct()
        // Build the filter from the benchmark side in ONE job: a single
        // aggregate row carries (actual distinct gram count, filter). The
        // filter is sized optimistically at boundBits; the count read from
        // the SAME row validates the sizing, and only an overflow
        // (count * 10 bits/item no longer fits) pays a second,
        // exactly-sized build — so the 10 bits/item ≈ 1% fpp guarantee
        // still holds without a separate count() action in the normal path.
        val boundBits = 1L << 22 // 512 KiB filter ≈ 400k grams at 1% fpp
        val row = bench.agg(count(lit(1)).as("cnt"),
          Bloom.bloomAgg(xxhash64(col("gram")), boundBits / 10, boundBits).as("bf"))
          .head()
        val benchGrams = math.max(row.getLong(0), 1L)
        val bf =
          if (benchGrams * 10L <= boundBits) row.getAs[Array[Byte]](1)
          else bench
            .agg(Bloom.bloomAgg(xxhash64(col("gram")), benchGrams, benchGrams * 10L).as("bf"))
            .head().getAs[Array[Byte]](0)
        val corpusGrams = grams.filter(col("source") =!= "src0")
          .select("doc_id", "gram").distinct()
          .where(Bloom.mightContain(bf, xxhash64(col("gram"))))
        // Exact verify join over the bloom survivors only (false
        // positives die here; hash-table build side is now tiny).
        val hits = corpusGrams.join(broadcast(bench), "gram")
          .groupBy("doc_id").agg(count(lit(1)).as("hit_grams"))
        base.filter(col("source") =!= "src0").select("doc_id")
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("hit_grams"), lit(0L)).as("hit_grams"))
          .withColumn("contaminated", col("hit_grams") > 0L)
          .orderBy("doc_id")
      }),

    // ---- q78: Count-Min sketch frequency estimation — the constant-state
    // companion to exact token counting (q30): the CountMinLongs aggregate
    // ships 4x256 counters (8 KB) per map partial regardless of corpus or
    // vocabulary size, where exact counting's aggregation state (and
    // shuffle) is vocabulary-sized. Estimates are one-sided (>= exact,
    // asserted in the output) and fully deterministic — same universal
    // hash family as MinHash — so DuckDB rebuilds the identical counter
    // matrix from plain GROUP BYs. Output: the 10 most frequent tokens
    // with exact count, CMS estimate, and the overcount.
    Q("q78_cms_freq",
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |h AS (SELECT token,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(generate_series(1, length(token)),
             |      i -> CAST(ord(substr(token, i, 1)) AS BIGINT))),
             |    (a, b) -> (a * 31 + b) % 1000003) AS th
             |  FROM t),
             |c AS (SELECT token, th, count(*) AS n FROM h GROUP BY 1, 2),
             |cmr AS (SELECT r, ((th % 2147483647) * (2*r+3) + (101*r+7)) % 2147483647 % 256 AS b,
             |               count(*) AS cnt
             |        FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
             |        GROUP BY 1, 2),
             |top AS (SELECT token, th, n FROM c ORDER BY n DESC, token LIMIT 10)
             |SELECT t.token, CAST(t.n AS BIGINT) AS exact_n,
             |       CAST(MIN(cmr.cnt) AS BIGINT) AS cms_n,
             |       CAST(MIN(cmr.cnt) - t.n AS BIGINT) AS overcount
             |FROM top t JOIN cmr
             |  ON cmr.b = ((t.th % 2147483647) * (2*cmr.r+3) + (101*cmr.r+7)) % 2147483647 % 256
             |GROUP BY t.token, t.n
             |ORDER BY exact_n DESC, token""".stripMargin),
      (s, d) => {
        import graft.functions.CountMin
        val (dRows, wCols) = (4, 256)
        val toksDf = docs(s, d)
          .select(explode(tokens(col("text"))).as("token"))
          .withColumn("th", NativeText.tokenHashMod(col("token")))
        val sk = toksDf.agg(CountMin.sketch(col("th"), dRows, wCols).as("sk"))
        val top = toksDf.groupBy("token", "th").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token")).limit(10)
        top.crossJoin(broadcast(sk))
          .select(col("token"), col("n").as("exact_n"),
            CountMin.estimate(col("sk"), col("th"), dRows, wCols).as("cms_n"))
          .withColumn("overcount", col("cms_n") - col("exact_n"))
          .orderBy(col("exact_n").desc, col("token"))
      }),

    // ---- q80: edit-distance fuzzy self-join via the DELETION NEIGHBORHOOD
    // (FastSS/SymSpell family): two strings with levenshtein <= 1 MUST
    // share an entry between their {self + all single-deletion variants}
    // sets — a substitution at i shares the delete-at-i variant, an
    // insert/delete pair shares the shorter string itself. So candidates
    // come from an EQUI-JOIN on variant strings (full recall by
    // construction, like q74's prefix filter), and the exact levenshtein
    // runs on candidates only — never on the n^2 cross product the oracle
    // computes. Fan-in per variant bucket is the true typo-neighborhood
    // density, i.e. the signal itself. The classic vocabulary-cleanup /
    // entity-dedup operator at corpus scale.
    Q("q80_fuzzy_join_ed1",
      Some("""WITH n AS (SELECT DISTINCT c_name FROM customer)
             |SELECT a.c_name AS name_a, b.c_name AS name_b,
             |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
             |FROM n a JOIN n b
             |  ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
             |ORDER BY name_a, name_b""".stripMargin),
      (s, d) => {
        graft.operators.CacheScope.release("q80")
        val names = Tables.customer(s, d).select(col("c_name").as("name")).distinct()
        // self + every single-deletion variant, deduped per name. Cached:
        // the self-join consumes it twice and Catalyst would otherwise
        // recompute the explode per side (see q74's ReuseExchange note).
        // r16: variant generation is the native DeletionVariants kernel —
        // the interpreted transform∘sequence∘substr∘concat chain (guide
        // §4) re-walked its expression tree per variant; EngineProps pins
        // value equality with the declarative form.
        val variants = graft.operators.CacheScope.persist("q80",
          names.select(col("name"),
            explode(NativeText.deletionVariants(col("name"))).as("v")))
        val cands = variants.as("a")
          .join(variants.as("b"),
            col("a.v") === col("b.v") && col("a.name") < col("b.name"))
          .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
          .distinct()
        // Cached so the final orderBy's range-partitioner SAMPLES the
        // materialized pairs instead of executing the join+distinct
        // subplan a second time (global sort = sample pass + real pass).
        val pairs = graft.operators.CacheScope.persist("q80", cands
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
          .filter(col("dist") <= 1))
        pairs.orderBy("name_a", "name_b")
      }),

    // ---- q82: 64-bit SimHash near-dup pairs — the corpus-scale
    // replacement for q35's 20-bit fingerprint (ScaleBench measured 20
    // bits saturating at ~10^5 docs: 6.4M birthday-collision pairs at 2M).
    // Fingerprint = two 32-bit halves (per-bit universal-hash votes, every
    // bit balanced); candidates from equality on any of 8 eight-bit bands;
    // verify Hamming(lo)+Hamming(hi) <= 3. Pigeonhole: <= 3 differing bits
    // dirty at most 3 bands, so at least one band stays clean at either
    // supported width and banding loses NO recall at this radius — which
    // is why the oracle can be the brute-force all-pairs join: full
    // recall is PROVEN on every correctness run, not asserted. Band width
    // is the corpus-size knob (fan-in per bucket = n / 2^bits), AUTO-SIZED
    // from the footer row count via SimHashBands.bandBitsFor (r6): 8-bit
    // at sf scales, 16-bit past 16k docs — the declared query and
    // ScaleBench's 2M-doc run now share the one banding/verify code path
    // (graft.operators.SimHashBands), so the scale measurement certifies
    // the same code the oracle checks. Width only shapes the candidate
    // set, never the verified result, so the oracle needs no mirror.
    Q("q82_neardup_simhash64",
      Some(
        s"""WITH $thCte, $shCte,
           |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
           |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t)
           |SELECT a.doc_id AS i, b.doc_id AS j,
           |       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
           |FROM sim_t a JOIN sim_t b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
           |ORDER BY i, j""".stripMargin),
      (s, d) => {
        import graft.operators.SimHashBands
        // parquet-footer row count, read on the driver, sizes the bands
        val bits = SimHashBands.bandBitsFor(Tables.rowCount(d, "documents"))
        val sim = simhash64Fp(s, d, "q82") // persisted: kernel runs once
        val bands = SimHashBands.bandsOf(sim, bits)
        SimHashBands.verifiedPairs(bands, bands, col("a.doc_id") < col("b.doc_id"))
          .orderBy("i", "j")
      }),

    // ---- q86: INCREMENTAL (delta) dedup — the daily-ingest shape a real
    // 100 TB pipeline actually runs: the corpus's simhash64 fingerprints
    // are PERSISTED once per source build (Derived-fingerprint-keyed
    // parquet, the q79/q81 staleness pattern), and deduping a newly
    // arriving batch (doc_id % 10 = 0 stands in for today's shard) costs
    //   fingerprint(batch) + band-join(batch × index) + band-join(batch²)
    // — the corpus side is a 16-byte-per-doc INDEX SCAN, never a
    // re-fingerprint of corpus text (the expensive part: shingling +
    // 64-bit simhash over every token). Cost therefore scales with the
    // batch, not the corpus (measured in ScaleBench: 2M corpus / 100k
    // batch). Full recall at Hamming <= 3 holds by the same pigeonhole as
    // q82, so the oracle is exact: the brute-force all-pairs join
    // restricted to pairs touching the batch. At deployment scale the
    // stored index would additionally be partitioned by band and bucketed
    // by band value so the candidate join co-locates without a shuffle
    // (the q81 layout); the parquet here keeps (doc_id, lo, hi) — banding
    // is a free map-side explode at read time and keeps the index
    // re-bandable as the corpus grows past a width threshold.
    Q("q86_incremental_dedup",
      Some(
        s"""WITH $thCte, $shCte,
           |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
           |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t)
           |SELECT a.doc_id AS i, b.doc_id AS j,
           |       CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
           |FROM sim_t a JOIN sim_t b ON a.doc_id < b.doc_id
           |WHERE (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)
           |  AND bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
           |ORDER BY i, j""".stripMargin),
      (s, d) => {
        import graft.operators.SimHashBands
        import graft.sources.Derived
        val bits = SimHashBands.bandBitsFor(Tables.rowCount(d, "documents"))
        def fpOf(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"),
            NativeText.simhash64(NativeText.shingleHashesOfText(col("text"))).as("fp"))
          .select(col("doc_id"),
            element_at(col("fp"), 1).as("lo"), element_at(col("fp"), 2).as("hi"))
        val idxPath =
          s"/tmp/graft_derived/${new java.io.File(d).getName}/simhash64_index"
        val corpus = fpOf(docs(s, d).filter(col("doc_id") % 10L =!= 0L))
        Derived.ensure(idxPath, Derived.fingerprint(d, Seq("documents"))) {
          corpus.write.mode("overwrite").parquet(idxPath)
        }
        // read with the schema the writer produces: no inference job
        val corpusBands = SimHashBands.bandsOf(
          s.read.schema(corpus.schema).parquet(idxPath), bits)
        // The batch fingerprints feed three join sides (batch×index plus
        // both sides of batch²) — persist ONE generation (CacheScope) so
        // the batch is fingerprinted once, the incremental cost model.
        graft.operators.CacheScope.release("q86")
        val batchFp = graft.operators.CacheScope.persist("q86",
          fpOf(docs(s, d).filter(col("doc_id") % 10L === 0L)))
        val batchBands = SimHashBands.bandsOf(batchFp, bits)
        // new-vs-corpus (sides disjoint, normalize to i < j) + new-vs-new;
        // the unions are disjoint pair sets, so no cross-set distinct.
        val cross = SimHashBands.verifiedPairs(batchBands, corpusBands, lit(true))
          .select(least(col("i"), col("j")).as("i"),
            greatest(col("i"), col("j")).as("j"), col("hamming"))
        val within = SimHashBands.verifiedPairs(batchBands, batchBands,
          col("a.doc_id") < col("b.doc_id"))
        cross.unionByName(within).orderBy("i", "j")
      }),

    // ---- q84: document CONTAINMENT detection — the curation gap the
    // near-dup family doesn't cover: q34/q35/q82 score SYMMETRIC
    // similarity, so a short document quoted wholesale inside a long one
    // scores low Jaccard and slips through; containment |F_A ∩ F_B|/|F_A|
    // catches it. Fingerprints are mod-p sampled shingle hashes (p = 8,
    // Manber/Broder-style content-defined selection): deterministic, so
    // any shared text region yields shared fingerprints regardless of the
    // documents' relative sizes, and the oracle reproduces the set
    // bit-for-bit with list_filter. ASYMMETRIC by construction — both
    // (i contained-in j) and (j contained-in i) are evaluated, so the
    // pair join is <> not <. Candidates come from an equi-join on
    // fingerprint VALUES (fan-in per value bounded by true duplication,
    // q75's argument), one groupBy counts shared prints, and the
    // containment ratio is exact integer ppm. Min-support: documents
    // with < 4 fingerprints (too short to attest containment) are
    // excluded as the CONTAINED side — the standard guard against
    // 1-of-1 = 100% noise; p and min-support are the density knobs a
    // deployment tunes to its document-length floor.
    // ---- q90: domain-mixture rebalancing — the data-MIXING step between
    // curation and training: equalize token mass across languages at the
    // scarcest language's level (uniform multilingual mixture, the
    // Pile/ROOTS-style re-weighting executed as sampling). Rates are
    // DERIVED FROM THE DATA — rate_lang = min_lang_tokens / lang_tokens
    // in parts-per-2^20 (exact integer division; the scarcest language
    // hits the min(1, ·) cap naturally as rate = 2^20) — then applied as
    // the q64 deterministic md5-bucket sample (6 hex chars is 2^24
    // uniform, so % 2^20 is EXACTLY uniform; rerun-, cluster-size- and
    // partitioning-stable, unlike df.sample). Distinct from q70, whose
    // per-stratum rates are fixed constants: here the rate computation is
    // itself the operator. Plan: one vocabulary-light partial-agg for the
    // per-lang token mass, a 1-row scalar broadcast for the min, a 5-row
    // broadcast rates dim back onto the map-side sampler — at 100 TB the
    // corpus is scanned twice (mass pass + sample pass) with nothing
    // corpus-sized shuffled; a deployment fuses the first pass into
    // whatever per-doc stat job already runs.
    Q("q90_domain_mixture",
      Some("""WITH tok AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
             |cnt AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
             |tgt AS (SELECT MIN(n_tokens) AS mn FROM cnt),
             |rate AS (SELECT lang, n_docs, n_tokens,
             |         CAST((mn * 1048576) // n_tokens AS BIGINT) AS rate_pp20 FROM cnt CROSS JOIN tgt),
             |h AS (SELECT doc_id, lang, n_tok,
             |      CAST(list_sum(list_transform(generate_series(1, 6),
             |        i -> (CASE WHEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) >= 97
             |              THEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 87
             |              ELSE ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 48 END)
             |             * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % 1048576 AS pp20
             |      FROM tok)
             |SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs, r.n_tokens, r.rate_pp20,
             |       CAST(COUNT(CASE WHEN h.pp20 < r.rate_pp20 THEN 1 END) AS BIGINT) AS kept_docs,
             |       CAST(COALESCE(SUM(CASE WHEN h.pp20 < r.rate_pp20 THEN h.n_tok END), 0) AS BIGINT) AS kept_tokens
             |FROM rate r JOIN h ON h.lang = r.lang
             |GROUP BY 1, 2, 3, 4 ORDER BY r.lang""".stripMargin),
      (s, d) => {
        val tok = docs(s, d).select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        val cnt = tok.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        // 1-row scalar broadcast (same exempted shape as q67/q78)
        val rate = cnt.crossJoin(broadcast(cnt.agg(min(col("n_tokens")).as("mn"))))
          .withColumn("rate_pp20", expr("(mn * 1048576) div n_tokens"))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("rate_pp20"))
        val pp20 = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") % 1048576L
        tok.withColumn("pp20", pp20)
          .join(broadcast(rate), "lang")
          .groupBy(col("lang"), col("n_docs"), col("n_tokens"), col("rate_pp20"))
          .agg(sum(when(col("pp20") < col("rate_pp20"), 1L).otherwise(0L)).as("kept_docs"),
            coalesce(sum(when(col("pp20") < col("rate_pp20"), col("n_tok"))), lit(0L))
              .as("kept_tokens"))
          .orderBy("lang")
      }),

    // ---- q91: near-dup cluster SURVIVORSHIP — the last mile of the dedup
    // pipeline: pair-finding (q82) and clustering (q63) decide WHO is
    // duplicated; this decides WHAT SURVIVES. Clusters come from the
    // 64-bit SimHash pair graph (banded candidates via the shared
    // SimHashBands path — the 20-bit graph saturates at corpus scale,
    // the r4 lesson) over pair-TOUCHED docs only (singletons need no
    // election), contracted by Components.auto; the survivor per cluster
    // is elected by (n_chars DESC, doc_id ASC) — keep the longest, the
    // standard curation rule (longer near-dup usually supersets the
    // shorter), deterministic tie-break. Output per multi-doc cluster:
    // survivor + what the dedup drops (doc and char mass). At 100 TB:
    // banded equi-joins, an edge-bounded CC, and a window over clusters
    // whose width is bounded by true duplication — nothing corpus².
    Q("q91_cluster_survivors",
      Some(
        s"""WITH RECURSIVE $thCte, $shCte,
           |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
           |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t),
           |e AS (SELECT a.doc_id AS i, b.doc_id AS j
           |      FROM sim_t a JOIN sim_t b ON a.doc_id < b.doc_id
           |      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
           |nodes AS (SELECT i AS doc_id FROM e UNION SELECT j FROM e),
           |es AS (SELECT i AS a, j AS b FROM e UNION SELECT j AS a, i AS b FROM e),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM nodes
           |  UNION
           |  SELECT r.a, es.b FROM reach r JOIN es ON r.b = es.a),
           |clus AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
           |memb AS (SELECT c.cluster_id, d.doc_id, d.n_chars
           |         FROM clus c JOIN documents d ON d.doc_id = c.doc_id),
           |elect AS (SELECT cluster_id, doc_id, n_chars,
           |                 row_number() OVER (PARTITION BY cluster_id
           |                   ORDER BY n_chars DESC, doc_id) AS rnk
           |          FROM memb)
           |SELECT cluster_id,
           |       CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       MIN(CASE WHEN rnk = 1 THEN doc_id END) AS survivor_id,
           |       MIN(CASE WHEN rnk = 1 THEN n_chars END) AS survivor_chars,
           |       CAST(SUM(CASE WHEN rnk > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
           |FROM elect
           |GROUP BY 1
           |ORDER BY cluster_id""".stripMargin),
      (s, d) => {
        import graft.operators.{CacheScope, Components, SimHashBands}
        val bits = SimHashBands.bandBitsFor(Tables.rowCount(d, "documents"))
        val sim = simhash64Fp(s, d, "q91") // persisted: kernel runs once
        val bands = SimHashBands.bandsOf(sim, bits)
        // the edge list feeds nodes + CC (and CC reads it twice more):
        // persist the verified pairs, scoped
        val e = CacheScope.persist("q91",
          SimHashBands.verifiedPairs(bands, bands, col("a.doc_id") < col("b.doc_id")))
        val nodes = e.select(col("i").as("doc_id"))
          .union(e.select(col("j").as("doc_id"))).distinct()
        val clus = Components.auto(nodes, "doc_id", e, "i", "j")._1
        val memb = clus
          .join(docs(s, d).select(col("doc_id"), col("n_chars")),
            col("id") === col("doc_id"))
          .select(col("cluster_id"), col("doc_id"), col("n_chars"))
        memb
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("cluster_id"))
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_docs"),
            min(when(col("rnk") === 1, col("doc_id"))).as("survivor_id"),
            min(when(col("rnk") === 1, col("n_chars"))).as("survivor_chars"),
            sum(when(col("rnk") > 1, col("n_chars")).otherwise(0L)).as("dropped_chars"))
          .orderBy("cluster_id")
      }),

    Q("q84_containment_fp",
      Some(
        s"""WITH $thCte, $shCte,
           |fp AS (SELECT doc_id, list_distinct(list_filter(sh, x -> x % $ContainModP = 0)) AS f FROM sh_t),
           |sz AS (SELECT doc_id, len(f) AS n FROM fp WHERE len(f) >= $ContainMinSupport),
           |e AS (SELECT doc_id, unnest(f) AS v FROM fp),
           |pair AS (
           |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
           |  FROM e a JOIN e b ON a.v = b.v AND a.doc_id <> b.doc_id
           |  GROUP BY 1, 2)
           |SELECT p.i, p.j, CAST(p.shared AS BIGINT) AS shared,
           |       CAST(s.n AS BIGINT) AS fp_i,
           |       CAST((p.shared * 1000000) // s.n AS BIGINT) AS cont_ppm
           |FROM pair p JOIN sz s ON p.i = s.doc_id
           |WHERE p.shared * $ContainThrDen >= $ContainThrNum * s.n
           |ORDER BY p.i, p.j""".stripMargin),
      (s, d) => containmentPairs(docs(s, d))),

    // ---- q92: sequence packing — the corpus→training handoff: documents
    // are concatenated in a deterministic order and chunked into
    // fixed-capacity context windows (GPT-style concat-and-chunk); each
    // document is assigned to the shard its FIRST token lands in, and the
    // output is the per-shard manifest a training loader consumes. The
    // global running token sum is the crux at scale: a naive
    // `sum() OVER (ORDER BY doc_id)` collapses to one partition, so the
    // engine uses Windows.prefixSum — order-range buckets + per-bucket
    // cumsum + a #buckets-row offset window + broadcast offsets (the
    // q41 two-phase shape for a weighted index). The oracle's plain
    // window is semantically identical; 2048 tokens is the context size.
    Q("q92_seq_packing",
      Some("""WITH tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
             |cum AS (SELECT doc_id, n_tok,
             |               CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
             |        FROM tok),
             |a AS (SELECT doc_id, n_tok, (cs - n_tok) // 2048 AS shard_id FROM cum)
             |SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM a GROUP BY 1 ORDER BY shard_id""".stripMargin),
      (s, d) => {
        import graft.operators.Windows
        val tok = docs(s, d).select(col("doc_id"), size(toks).cast("long").as("n_tok"))
        Windows.prefixSum(tok, Seq(col("doc_id")), col("n_tok"), "cs")
          .withColumn("shard_id", expr("(cs - n_tok) div 2048"))
          .groupBy("shard_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("shard_id")
      }),

    // ---- q93: boilerplate REMOVAL by global chunk document-frequency —
    // the CCNet/RefinedWeb step the detection family (q75/q87) feeds:
    // a chunk appearing in >= 3 distinct documents is boilerplate
    // (headers, footers, licence blocks) and is STRIPPED; the output is
    // the scrubbed document (content hash + retained mass), not just a
    // score. Distinct from q75: q75 measures pairwise duplication
    // (df >= 2) per doc; this applies a corpus-frequency threshold and
    // reconstructs the retained text in token order. Plan: chunk explode
    // (native kernel, map-side) → distinct + count per chunk (the global
    // document-frequency table) → join back → per-doc agg whose
    // collect_list is bounded by the DOCUMENT length, never the corpus.
    // At 100 TB the join key is a 128-bit chunk hash (16-byte shuffle
    // rows); the string key keeps the oracle term-for-term identical.
    Q("q93_boilerplate_strip",
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |c0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) // 10),
             |         j -> {'j': j, 'chunk': list_aggregate(t[(j-1)*10+1:j*10], 'string_agg', ' ')})) AS u FROM tk),
             |c AS (SELECT doc_id, u.j AS j, u.chunk AS chunk FROM c0),
             |w AS (SELECT chunk, count(*) AS docs_with
             |      FROM (SELECT DISTINCT doc_id, chunk FROM c) GROUP BY 1)
             |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
             |       CAST(SUM(CASE WHEN w.docs_with < 3 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
             |       CAST(SUM(CASE WHEN w.docs_with < 3 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS kept_frac_micro,
             |       md5(COALESCE(string_agg(CASE WHEN w.docs_with < 3 THEN c.chunk END, ' ' ORDER BY c.j), '')) AS kept_md5
             |FROM c JOIN w USING (chunk)
             |GROUP BY 1
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val chunks = docs(s, d).select(col("doc_id"),
          posexplode(NativeText.wordChunks(col("text"), 10)).as(Seq("pos", "chunk")))
        // r15: only chunks in ≥3 docs change anything — join the
        // occurrences against the BOILERPLATE vocabulary (signal-sized,
        // broadcastable at any scale) instead of the full chunk
        // vocabulary with its docs_with counts (mostly 1s).
        val boiler = chunks.select("doc_id", "chunk").distinct()
          .groupBy("chunk").agg(count(lit(1)).as("docs_with"))
          .filter(col("docs_with") >= 3L)
          .select(col("chunk"), lit(1).as("bp"))
        chunks.join(boiler, Seq("chunk"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("bp").isNull, 1L).otherwise(0L)).as("kept_chunks"),
            // nulls (boilerplate) drop out of collect_list; sort restores
            // token order (pos is unique per doc, so the struct sort is a
            // pos sort); list size is bounded by the document length.
            array_sort(collect_list(
              when(col("bp").isNull, struct(col("pos"), col("chunk"))))).as("kept"))
          .withColumn("kept_frac_micro",
            floor(col("kept_chunks") * 1000000L / col("n_chunks")).cast("long"))
          .withColumn("kept_md5",
            md5(array_join(transform(col("kept"), x => x.getField("chunk")), " ")))
          .select(col("doc_id"), col("n_chunks"), col("kept_chunks"),
            col("kept_frac_micro"), col("kept_md5"))
          .orderBy("doc_id")
      }),

    // ---- q94: PII detection + redaction — the compliance pass every
    // public-corpus pipeline runs before training: find and mask emails
    // and phone numbers, report per-doc counts and the redacted content
    // hash. The synthetic corpus carries no PII, so the query INJECTS it
    // deterministically from doc_id (both engines compute the same
    // augmented text — the q83 dirty-input idea without a derived file);
    // a real corpus drops the injection and keeps the scrub. Patterns
    // use explicit character classes only (no \d, no lookaround), the
    // subset where Java regex and RE2 agree token-for-token. Map-only —
    // at 100 TB this fuses into whatever per-doc pass already runs, and
    // the counts partial-aggregate into the DQ report (P7's shape).
    Q("q94_pii_redact",
      Some("""WITH aug AS (SELECT doc_id,
             |    text || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com for details' ELSE '' END
             |         || CASE WHEN doc_id % 11 = 0 THEN ' or call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS t
             |    FROM documents)
             |SELECT doc_id,
             |       CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
             |       CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
             |       md5(regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5,
             |       CAST(length(regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |           '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS BIGINT) AS redacted_len
             |FROM aug ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
        val aug = concat(col("text"),
          when(col("doc_id") % 7L === 0L,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example.com for details"))).otherwise(lit("")),
          when(col("doc_id") % 11L === 0L,
            concat(lit(" or call 555-"),
              lpad((col("doc_id") % 1000L).cast("string"), 3, "0"), lit("-"),
              lpad((col("doc_id") % 10000L).cast("string"), 4, "0"))).otherwise(lit("")))
        val redacted = regexp_replace(
          regexp_replace(col("t"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
        docs(s, d).select(col("doc_id"), aug.as("t"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("t"), lit(phoneRe), lit(0)))
              .cast("long").as("n_phones"),
            md5(redacted).as("redacted_md5"),
            length(redacted).cast("long").as("redacted_len"))
          .orderBy("doc_id")
      }),

    // ---- q95: adaptive quality cutoff — per-language EXACT median token
    // count as a data-derived keep threshold (keep docs at or above their
    // language's median). The scale trick is the HISTOGRAM median: the
    // cutoff is computed from groupBy(lang, n_tok) counts — cardinality
    // bounded by langs x distinct lengths, NOT the corpus — so the
    // cumulative window sorts a histogram, never documents; the 5-row
    // cutoff table broadcasts back onto a map-side filter. Contrast q90
    // (rates from token MASS, applied by sampling): here the threshold
    // itself is a distributional statistic. An exact corpus-wide median
    // via percent_rank would be a global sort — this shape replaces it.
    Q("q95_quality_cutoff",
      Some("""WITH tok AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
             |h AS (SELECT lang, n_tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
             |c AS (SELECT lang, n_tok, cnt,
             |             SUM(cnt) OVER (PARTITION BY lang ORDER BY n_tok ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |             SUM(cnt) OVER (PARTITION BY lang) AS tot
             |      FROM h),
             |cut AS (SELECT lang, MIN(n_tok) AS cutoff FROM c WHERE 2 * cum >= tot GROUP BY 1)
             |SELECT t.lang, CAST(cut.cutoff AS BIGINT) AS cutoff,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(CASE WHEN t.n_tok >= cut.cutoff THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
             |       CAST(COALESCE(SUM(CASE WHEN t.n_tok >= cut.cutoff THEN t.n_tok END), 0) AS BIGINT) AS kept_tokens
             |FROM tok t JOIN cut ON t.lang = cut.lang
             |GROUP BY 1, 2 ORDER BY t.lang""".stripMargin),
      (s, d) => {
        val tok = docs(s, d).select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_tok"))
        val h = tok.groupBy("lang", "n_tok").agg(count(lit(1)).as("cnt"))
        val cut = h
          .withColumn("cum", sum(col("cnt")).over(
            Window.partitionBy(col("lang")).orderBy(col("n_tok"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
          .filter(col("cum") * 2L >= col("tot"))
          .groupBy("lang").agg(min(col("n_tok")).as("cutoff"))
        tok.join(broadcast(cut), "lang")
          .groupBy(col("lang"), col("cutoff"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_tok") >= col("cutoff"), 1L).otherwise(0L)).as("kept_docs"),
            coalesce(sum(when(col("n_tok") >= col("cutoff"), col("n_tok"))), lit(0L))
              .as("kept_tokens"))
          .orderBy("lang")
      }),

    // ---- q97: TEMPERATURE-scaled mixture sampling (alpha = 1/2) — the
    // mT5/XLM-R multilingual re-weighting: sampling rate proportional to
    // mass^alpha instead of q90's hard equalization (alpha=0 keeps the
    // scarcest language's absolute mass; alpha=1 keeps the natural
    // distribution; 1/2 is the standard compromise that up-samples tails
    // without starving heads). rate = sqrt(min_mass / mass), capped at 1
    // by construction, in pp2^20 fixed point:
    //   x = (min_mass * 2^20) div mass   (<= 2^20)
    //   rate_pp20 = isqrt(x * 2^20)      (<= 2^20)
    // isqrt is made EXACT in both engines by one +/-1 correction around
    // floor(sqrt(double)) — IEEE sqrt is correctly rounded so the seed is
    // within 1 of the true integer root, and the correction removes the
    // engine's rounding from the result entirely. Application is the q64
    // deterministic md5-bucket sample; same two-scan shape as q90
    // (vocabulary-light partial-agg + 1-row scalar + 5-row broadcast dim).
    Q("q97_temperature_mix",
      Some("""WITH tok AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
             |cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM tok GROUP BY 1),
             |tgt AS (SELECT MIN(n_tokens) AS mn FROM cnt),
             |x AS (SELECT lang, n_docs, n_tokens,
             |             ((mn * 1048576) // n_tokens) * 1048576 AS y FROM cnt CROSS JOIN tgt),
             |sq AS (SELECT lang, n_docs, n_tokens, y,
             |              CAST(floor(sqrt(CAST(y AS DOUBLE))) AS BIGINT) AS s0 FROM x),
             |sq2 AS (SELECT lang, n_docs, n_tokens, y,
             |               s0 + (CASE WHEN (s0 + 1) * (s0 + 1) <= y THEN 1 ELSE 0 END) AS s1 FROM sq),
             |rate AS (SELECT lang, n_docs, n_tokens,
             |                s1 - (CASE WHEN s1 * s1 > y THEN 1 ELSE 0 END) AS rate_pp20 FROM sq2),
             |h AS (SELECT doc_id, lang, n_tok,
             |      CAST(list_sum(list_transform(generate_series(1, 6),
             |        i -> (CASE WHEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) >= 97
             |              THEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 87
             |              ELSE ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 48 END)
             |             * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % 1048576 AS pp20
             |      FROM tok)
             |SELECT r.lang, r.n_docs, r.n_tokens, CAST(r.rate_pp20 AS BIGINT) AS rate_pp20,
             |       CAST(COUNT(CASE WHEN h.pp20 < r.rate_pp20 THEN 1 END) AS BIGINT) AS kept_docs,
             |       CAST(COALESCE(SUM(CASE WHEN h.pp20 < r.rate_pp20 THEN h.n_tok END), 0) AS BIGINT) AS kept_tokens
             |FROM rate r JOIN h ON h.lang = r.lang
             |GROUP BY 1, 2, 3, 4 ORDER BY r.lang""".stripMargin),
      (s, d) => {
        val tok = docs(s, d).select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tok"))
        val cnt = tok.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        val rate = cnt.crossJoin(broadcast(cnt.agg(min(col("n_tokens")).as("mn"))))
          .withColumn("y", expr("((mn * 1048576) div n_tokens) * 1048576"))
          .withColumn("s0", floor(sqrt(col("y").cast("double"))).cast("long"))
          .withColumn("s1", col("s0") +
            when((col("s0") + 1L) * (col("s0") + 1L) <= col("y"), 1L).otherwise(0L))
          .withColumn("rate_pp20", col("s1") -
            when(col("s1") * col("s1") > col("y"), 1L).otherwise(0L))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("rate_pp20"))
        val pp20 = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") % 1048576L
        tok.withColumn("pp20", pp20)
          .join(broadcast(rate), "lang")
          .groupBy(col("lang"), col("n_docs"), col("n_tokens"), col("rate_pp20"))
          .agg(sum(when(col("pp20") < col("rate_pp20"), 1L).otherwise(0L)).as("kept_docs"),
            coalesce(sum(when(col("pp20") < col("rate_pp20"), col("n_tok"))), lit(0L))
              .as("kept_tokens"))
          .orderBy("lang")
      }),

    // ---- q99: collocation extraction — corpus-level bigram association
    // by LIFT: lift(w1 w2) = P(w1 w2) / (P(w1) P(w2)), the PMI family's
    // ratio computed in exact integer ppm so both engines agree
    // bit-for-bit (log-space PMI never could). Useful as a tokenizer/
    // vocabulary signal (multi-word expressions) and as a corpus-drift
    // statistic. Shape: one unigram count (vocabulary-sized partial-agg),
    // one bigram count via the native wordNgrams kernel (min-support
    // pruned BEFORE any join, so the join input is the interesting tail,
    // not the corpus), two equi-joins against the unigram table keyed by
    // the bigram's component words, a 1-row scalar broadcast for the
    // total-token normalizer, then a bounded top-100. Floor-division
    // composition ((c12*10^6 div c1) * N div c2) keeps every intermediate
    // under 10^14 at bench scales; a 100 TB deployment keeps the same
    // pipeline and widens the normalizer to DECIMAL(38,0) — noted here
    // because c12*10^6 div c1 <= 10^6 makes the second product the only
    // wide term. Ties broken by bigram text: fully deterministic top-k.
    Q("q99_collocations",
      Some("""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
             |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
             |        FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_tot FROM uni),
             |bi AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12
             |       FROM (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
             |                    i -> t[i] || ' ' || t[i + 1])) AS bg FROM tk)
             |       GROUP BY 1 HAVING COUNT(*) >= 5),
             |sp AS (SELECT bg, c12, string_split(bg, ' ')[1] AS w1,
             |              string_split(bg, ' ')[2] AS w2 FROM bi)
             |SELECT sp.bg AS bigram, sp.c12, u1.c1 AS cw1, u2.c1 AS cw2,
             |       CAST(((sp.c12 * 1000000) // u1.c1) * tot.n_tot // u2.c1 AS BIGINT) AS lift_ppm
             |FROM sp JOIN uni u1 ON sp.w1 = u1.w
             |        JOIN uni u2 ON sp.w2 = u2.w
             |        CROSS JOIN tot
             |ORDER BY lift_ppm DESC, bigram LIMIT 100""".stripMargin),
      (s, d) => {
        val tok = docs(s, d).select(explode(tokens(col("text"))).as("w"))
        val uni = tok.groupBy("w").agg(count(lit(1)).as("c1"))
        val nTot = uni.agg(sum(col("c1")).as("n_tot"))
        val bi = docs(s, d)
          .select(explode(NativeText.wordNgrams(col("text"), 2)).as("bg"))
          .groupBy("bg").agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5L)
        val sp = bi
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .withColumn("w2", split(col("bg"), " ").getItem(1))
        sp.join(uni.select(col("w").as("w1"), col("c1").as("cw1")), "w1")
          .join(uni.select(col("w").as("w2"), col("c1").as("cw2")), "w2")
          .crossJoin(broadcast(nTot))
          .withColumn("lift_ppm",
            expr("((c12 * 1000000) div cw1) * n_tot div cw2"))
          .select(col("bg").as("bigram"), col("c12"), col("cw1"), col("cw2"),
            col("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("bigram")).limit(100)
      }),

    // ---- q103: corpus drift by total variation distance — per source,
    // 2·TVD between the source's token distribution and the global one,
    // in exact pp2^20 (KL/JS divergence needs logs and can never
    // cross-engine hash-match; TVD is the exact-arithmetic drift metric).
    // The absent-token subtlety: tokens the source never emits still
    // contribute |0 - p_global| — instead of densifying sources × vocab
    // (a real cross join), that mass is computed ANALYTICALLY as
    // G - Σ_present(p_global), where G = Σ_all(p_global) is a 1-row
    // scalar (floored divisions don't telescope, so G must be summed,
    // not assumed 2^20). Shape: per-(source, token) partial-agg, one
    // vocabulary-sized equi-join on token, two 1-row scalar broadcasts —
    // nothing sources×vocab, nothing corpus². The drift monitor a
    // pipeline runs per ingest batch against the trailing corpus.
    Q("q103_source_drift_tvd",
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
             |sc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2),
             |st AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM sc GROUP BY 1),
             |g AS (SELECT w, CAST(SUM(n) AS BIGINT) AS gn FROM sc GROUP BY 1),
             |gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS gtot FROM g),
             |gm AS (SELECT CAST(SUM((gn * 1048576) // gtot) AS BIGINT) AS gmass FROM g CROSS JOIN gt),
             |j AS (SELECT sc.source, sc.n, st.tot, g.gn, gt.gtot
             |      FROM sc JOIN g USING (w) JOIN st USING (source) CROSS JOIN gt)
             |SELECT j.source, j.tot AS n_tokens,
             |       CAST(SUM(ABS((j.n * 1048576) // j.tot - (j.gn * 1048576) // j.gtot))
             |            + MAX(gm.gmass) - SUM((j.gn * 1048576) // j.gtot) AS BIGINT) AS tvd2_pp20
             |FROM j CROSS JOIN gm
             |GROUP BY 1, 2 ORDER BY j.source""".stripMargin),
      (s, d) => {
        val sc = docs(s, d)
          .select(col("source"), explode(tokens(col("text"))).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("n"))
        val st = sc.groupBy("source").agg(sum(col("n")).as("tot"))
        val g = sc.groupBy("w").agg(sum(col("n")).as("gn"))
        val gt = g.agg(sum(col("gn")).as("gtot"))
        val gm = g.crossJoin(broadcast(gt))
          .agg(sum(expr("(gn * 1048576) div gtot")).as("gmass"))
        sc.join(g, "w").join(broadcast(st), "source").crossJoin(broadcast(gt))
          .crossJoin(broadcast(gm))
          .groupBy(col("source"), col("tot").as("n_tokens"))
          .agg((sum(abs(expr("(n * 1048576) div tot - (gn * 1048576) div gtot")))
            + max(col("gmass")) - sum(expr("(gn * 1048576) div gtot")))
            .as("tvd2_pp20"))
          .orderBy("source")
      }),

    // ---- q110: equi-depth decile binning — per language, split the
    // token-count distribution into 10 equal-mass bins (the binning step
    // behind length-balanced batch sampling and monotonic feature
    // bucketing). The naive form ranks every document (corpus-sized
    // global sort); the histogram form bins VALUES: per (lang, n_tok)
    // counts get a cumulative window (cardinality = langs × distinct
    // lengths), and a value's bin is its PRECEDING mass ((cum − cnt)·10
    // div tot) — every doc with the same value lands in the same bin,
    // deterministically, with no per-doc rank. The histogram IS the
    // assignment: the output is the bin table (bounds + exact
    // populations); a map-side broadcast join tags documents at
    // deployment, same as q95's cutoff application.
    Q("q110_equidepth_bins",
      Some("""WITH tok AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
             |h AS (SELECT lang, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
             |c AS (SELECT lang, v, cnt,
             |        SUM(cnt) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |        SUM(cnt) OVER (PARTITION BY lang) AS tot
             |      FROM h)
             |SELECT lang, CAST(((cum - cnt) * 10) // tot AS BIGINT) AS decile,
             |       CAST(SUM(cnt) AS BIGINT) AS n_docs,
             |       MIN(v) AS lo_tok, MAX(v) AS hi_tok
             |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, d) => {
        val tok = docs(s, d).select(col("lang"),
          size(tokens(col("text"))).cast("long").as("v"))
        val h = tok.groupBy("lang", "v").agg(count(lit(1)).as("cnt"))
        h.withColumn("cum", sum(col("cnt")).over(
            Window.partitionBy(col("lang")).orderBy(col("v"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
          .withColumn("decile", expr("((cum - cnt) * 10) div tot"))
          .groupBy(col("lang"), col("decile"))
          .agg(sum(col("cnt")).as("n_docs"),
            min(col("v")).as("lo_tok"), max(col("v")).as("hi_tok"))
          .orderBy("lang", "decile")
      }),

    // ---- q115: URL canonicalization — the dedup key of every web-corpus
    // pipeline: scheme/host case-folded, www. and default port dropped,
    // query parameters SORTED (the same resource arrives under
    // param-order permutations). The corpus carries no URLs, so they are
    // injected deterministically from doc_id (the q94 idea): messy case,
    // explicit :80, unsorted params — the canonicalizer must fix all
    // three. All string surgery is regexp_extract with explicit classes
    // + lexicographic sort (array_sort ≡ list_sort on ASCII), exact in
    // both engines. Map-only per doc, then a hosts-sized aggregate:
    // the per-host inventory a crawl-frontier audit reads.
    Q("q115_url_canonical",
      Some("""WITH u AS (SELECT doc_id,
             |    'HTTP://WWW.Host' || CAST(doc_id % 50 AS VARCHAR) || '.Example.COM:80/p/'
             |      || CAST(doc_id AS VARCHAR) || '?b=2&a=1&c=' || CAST(doc_id % 7 AS VARCHAR) AS url
             |    FROM documents),
             |c AS (SELECT doc_id,
             |    regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?]+)', 1)), '^www\.', '') AS host,
             |    regexp_extract(url, '://[^/?]+(/[^?]*)', 1) AS path,
             |    list_aggregate(list_sort(string_split(regexp_extract(url, '\?(.*)$', 1), '&')),
             |                   'string_agg', '&') AS q
             |    FROM u)
             |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(COUNT(DISTINCT 'https://' || host || path || '?' || q) AS BIGINT) AS nd_urls,
             |       MIN('https://' || host || path || '?' || q) AS sample_url
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        val url = concat(lit("HTTP://WWW.Host"), (col("doc_id") % 50L).cast("string"),
          lit(".Example.COM:80/p/"), col("doc_id").cast("string"),
          lit("?b=2&a=1&c="), (col("doc_id") % 7L).cast("string"))
        val host = regexp_replace(
          lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/:?]+)", 1)),
          "^www\\.", "")
        val path = regexp_extract(col("url"), "://[^/?]+(/[^?]*)", 1)
        val q = array_join(array_sort(
          split(regexp_extract(col("url"), "\\?(.*)$", 1), "&")), "&")
        val canon = concat(lit("https://"), col("host"), col("path"),
          lit("?"), col("q"))
        docs(s, d).select(col("doc_id"), url.as("url"))
          .select(col("doc_id"), host.as("host"), path.as("path"), q.as("q"))
          .select(col("doc_id"), col("host"), canon.as("canon"))
          .groupBy("host")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("canon")).as("nd_urls"),
            min(col("canon")).as("sample_url"))
          .orderBy("host")
      }),

    // ---- q116: per-host diversity cap — keep at most K documents per
    // host, chosen by deterministic hash order (C4-style per-domain
    // caps: a handful of giant hosts otherwise dominate the corpus).
    // The window partitions by host and orders by (md5(doc_id), doc_id)
    // — a stable shuffle-proof lottery, no RNG state — so reruns keep
    // the SAME documents. Per-host fan-in is the window width; hosts
    // are the partition key, so a pathological giant host is exactly
    // the L17 skew case and salts the same way if it ever matters.
    Q("q116_host_cap",
      Some("""WITH u AS (SELECT doc_id,
             |    'host' || CAST(doc_id % 50 AS VARCHAR) || '.example.com' AS host FROM documents),
             |r AS (SELECT doc_id, host,
             |        row_number() OVER (PARTITION BY host
             |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
             |      FROM u)
             |SELECT doc_id, host, CAST(rnk AS BIGINT) AS rnk,
             |       CASE WHEN rnk <= 12 THEN 1 ELSE 0 END AS kept
             |FROM r ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val host = concat(lit("host"), (col("doc_id") % 50L).cast("string"),
          lit(".example.com"))
        val w = Window.partitionBy(col("host"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs(s, d).select(col("doc_id"), host.as("host"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .withColumn("kept", when(col("rnk") <= 12L, 1).otherwise(0))
          .orderBy("doc_id")
      }),

    // ---- q118: LEAKAGE-SAFE train/test split — the q64 deterministic
    // split with the constraint the eval literature demands: near-
    // duplicate documents must land in the SAME split, or the test set
    // leaks into training (the contamination q73 guards against, created
    // by the splitter itself). Mechanism: the split lottery hashes the
    // CLUSTER id (q91's near-dup components; singletons are their own
    // cluster), not the doc id — every member inherits the cluster's
    // split by construction. Costs one cluster pass + a map-side hash;
    // the corpus-sized frame never shuffles for the assignment itself.
    Q("q118_leakage_safe_split",
      Some(
        s"""WITH RECURSIVE $thCte, $shCte,
           |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
           |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t),
           |e AS (SELECT a.doc_id AS i, b.doc_id AS j
           |      FROM sim_t a JOIN sim_t b ON a.doc_id < b.doc_id
           |      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
           |nodes AS (SELECT i AS doc_id FROM e UNION SELECT j FROM e),
           |es AS (SELECT i AS a, j AS b FROM e UNION SELECT j AS a, i AS b FROM e),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM nodes
           |  UNION
           |  SELECT r.a, es.b FROM reach r JOIN es ON r.b = es.a),
           |clus AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
           |asg AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cid
           |        FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id),
           |b AS (SELECT doc_id, cid,
           |      CAST(list_sum(list_transform(generate_series(1, 6),
           |        i -> (CASE WHEN ord(substr(md5(CAST(cid AS VARCHAR)), i, 1)) >= 97
           |              THEN ord(substr(md5(CAST(cid AS VARCHAR)), i, 1)) - 87
           |              ELSE ord(substr(md5(CAST(cid AS VARCHAR)), i, 1)) - 48 END)
           |             * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % 100 AS pp
           |      FROM asg)
           |SELECT doc_id, cid AS cluster_id,
           |       CASE WHEN pp < 10 THEN 'test' ELSE 'train' END AS split
           |FROM b ORDER BY doc_id""".stripMargin),
      (s, d) => {
        import graft.operators.{CacheScope, Components, SimHashBands}
        val bits = SimHashBands.bandBitsFor(Tables.rowCount(d, "documents"))
        val sim = simhash64Fp(s, d, "q118") // persisted: kernel runs once
        val bands = SimHashBands.bandsOf(sim, bits)
        val e = CacheScope.persist("q118",
          SimHashBands.verifiedPairs(bands, bands, col("a.doc_id") < col("b.doc_id")))
        // every document is a node, so Components' (id, cluster_id) is
        // already the assignment: a doc on no edge is its own cluster
        val asg = Components.auto(docs(s, d).select(col("doc_id")), "doc_id", e, "i", "j")._1
          .select(col("id").as("doc_id"), col("cluster_id").as("cid"))
        asg
          .withColumn("pp",
            conv(substring(md5(col("cid").cast("string")), 1, 6), 16, 10)
              .cast("long") % 100L)
          .select(col("doc_id"), col("cid").as("cluster_id"),
            when(col("pp") < 10L, lit("test")).otherwise(lit("train")).as("split"))
          .orderBy("doc_id")
      }),

    // ---- q128: golden-record construction — MDM-style survivorship that
    // MERGES fields across a duplicate cluster instead of electing one
    // row (q91): representative doc by (longest, lowest id), language by
    // MODE with a deterministic lexicographic tie-break, char mass
    // summed. Each field rule is an aggregate over members — per-cluster
    // fan-in bounded by true duplication; singletons pass through as
    // their own golden record. The field-rule vocabulary
    // (latest/longest/most-frequent/sum) is the standard MDM set; two of
    // them compose here and the rest are the same shapes.
    Q("q128_golden_record",
      Some(
        s"""WITH RECURSIVE $thCte, $shCte,
           |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
           |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t),
           |e AS (SELECT a.doc_id AS i, b.doc_id AS j
           |      FROM sim_t a JOIN sim_t b ON a.doc_id < b.doc_id
           |      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
           |nodes AS (SELECT i AS doc_id FROM e UNION SELECT j FROM e),
           |es AS (SELECT i AS a, j AS b FROM e UNION SELECT j AS a, i AS b FROM e),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM nodes
           |  UNION
           |  SELECT r.a, es.b FROM reach r JOIN es ON r.b = es.a),
           |clus AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
           |memb AS (SELECT COALESCE(c.cluster_id, d.doc_id) AS cid, d.doc_id, d.lang, d.n_chars
           |         FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id),
           |lm AS (SELECT cid, lang, CAST(COUNT(*) AS BIGINT) AS cnt FROM memb GROUP BY 1, 2),
           |lmr AS (SELECT cid, lang,
           |          row_number() OVER (PARTITION BY cid ORDER BY cnt DESC, lang) AS r FROM lm),
           |rep AS (SELECT cid, doc_id, n_chars,
           |          row_number() OVER (PARTITION BY cid ORDER BY n_chars DESC, doc_id) AS r FROM memb)
           |SELECT m.cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       MIN(CASE WHEN rep.r = 1 THEN rep.doc_id END) AS rep_doc,
           |       MIN(CASE WHEN lmr.r = 1 THEN lmr.lang END) AS golden_lang,
           |       CAST(SUM(m.n_chars) AS BIGINT) AS total_chars
           |FROM memb m
           |LEFT JOIN rep ON rep.cid = m.cid AND rep.doc_id = m.doc_id
           |LEFT JOIN lmr ON lmr.cid = m.cid AND lmr.lang = m.lang
           |GROUP BY 1 ORDER BY cluster_id""".stripMargin),
      (s, d) => {
        import graft.operators.{CacheScope, Components, SimHashBands}
        val bits = SimHashBands.bandBitsFor(Tables.rowCount(d, "documents"))
        val sim = simhash64Fp(s, d, "q128") // persisted: kernel runs once
        val bands = SimHashBands.bandsOf(sim, bits)
        val e = CacheScope.persist("q128",
          SimHashBands.verifiedPairs(bands, bands, col("a.doc_id") < col("b.doc_id")))
        // every document is a node and carries its fields through, so
        // Components' output is the member list: a doc on no edge is its
        // own cluster, a NULL doc_id keeps a NULL cid
        val memb = Components.auto(docs(s, d).select(col("doc_id"), col("lang"),
            col("n_chars")), "doc_id", e, "i", "j")._1
          .select(col("cluster_id").as("cid"), col("id").as("doc_id"), col("lang"),
            col("n_chars"))
        // every field rule is an extremum of a struct, so one two-level
        // aggregate computes them all, (cid, lang) then cid: the
        // representative is the max of (n_chars, ~doc_id) — longest, then
        // lowest id, as ~ reverses the order of longs and cannot overflow;
        // the language mode is the min of (-cnt, lang). Partitioning by
        // cid once serves both levels, so they share one exchange
        memb.repartition(col("cid")).groupBy("cid", "lang")
          .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"),
            max(struct(col("n_chars"), bitwise_not(col("doc_id")).as("not_id"))).as("rep"))
          .groupBy("cid")
          .agg(sum(col("cnt")).as("n_docs"),
            bitwise_not(max(col("rep")).getField("not_id")).as("rep_doc"),
            min(struct((-col("cnt")).as("neg_cnt"), col("lang"))).getField("lang")
              .as("golden_lang"),
            sum(col("chars")).as("total_chars"))
          .select(col("cid").as("cluster_id"), col("n_docs"), col("rep_doc"),
            col("golden_lang"), col("total_chars"))
          .orderBy("cluster_id")
      }),

    // ---- q138: unigram surprisal quality score — the KenLM-perplexity
    // filter's exact integer sibling: per-token surprisal in WHOLE BITS,
    // floor(log2(N/c)) for corpus total N and token count c. The bit
    // count is computed as length(bin(N div c)) - 1, exact in both
    // engines, and floor(log2(floor(x))) = floor(log2(x)) for x >= 1, so
    // the integer division loses nothing. Rare-token-heavy (high mean
    // surprisal) documents are the gibberish/boilerplate outliers a
    // perplexity filter drops. Shape: doc-level token counts join the
    // vocabulary-sized count table (an ordinary equi-join; the corpus
    // total is a 1-row scalar derived from the vocab table, NOT a third
    // corpus scan) — at 100 TB the vocab side partial-aggregates before
    // its one shuffle and the surprisal math is map-side.
    Q("q138_surprisal_score",
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |dc AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS k FROM t GROUP BY 1, 2),
             |v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM v)
             |SELECT dc.doc_id,
             |       CAST(SUM(dc.k) AS BIGINT) AS n_tokens,
             |       CAST(SUM(dc.k * (length(bin(n.n // v.c)) - 1)) AS BIGINT) AS sum_bits,
             |       CAST(SUM(dc.k * (length(bin(n.n // v.c)) - 1)) // SUM(dc.k) AS BIGINT) AS mean_bits
             |FROM dc JOIN v USING (token) CROSS JOIN n
             |GROUP BY 1 ORDER BY doc_id""".stripMargin),
      (s, d) => {
        import graft.operators.CacheScope
        CacheScope.release("q138")
        // r15: persist the AGGREGATED (doc, token, k) pair counts, not
        // the raw exploded token frame — dc is the smallest frame every
        // consumer can be derived from: v = Σk per token (aggregating
        // pairs, not the full token stream), n = Σk (a 1-row scalar).
        // The old shape cached the corpus-sized explode and re-aggregated
        // the full token stream for v; this caches one pairs-sized
        // aggregate and never re-reads the corpus.
        val dc = CacheScope.persist("q138", docs(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("k")))
        val v = dc.groupBy("token").agg(sum(col("k")).as("c"))
        val n = dc.agg(sum(col("k")).as("n"))
        dc.join(v, "token").crossJoin(broadcast(n))
          .withColumn("bits", length(bin(expr("n div c"))).cast("long") - 1L)
          .groupBy("doc_id")
          .agg(sum(col("k")).as("n_tokens"),
            sum(col("k") * col("bits")).as("sum_bits"))
          .withColumn("mean_bits", expr("sum_bits div n_tokens"))
          .select("doc_id", "n_tokens", "sum_bits", "mean_bits")
          .orderBy("doc_id")
      }),

    // ---- q140: sketch-pruned exact heavy hitters — the two-job pattern
    // that finds all tokens with exact count >= N/30 WITHOUT shuffling
    // the full vocabulary: job 1 folds the corpus into one 8 KB Count-Min
    // row (plus the total N) with constant-size map partials; job 2
    // re-scans tokens and probes the broadcast sketch as a MAP-SIDE
    // FILTER before the exact count's exchange. CMS estimates are
    // one-sided (est >= exact always), so est < T proves exact < T and
    // the prune NEVER drops a true heavy hitter — the exact HAVING on the
    // survivors makes the result identical to the naive full count. At
    // 100 TB the pruned exchange carries the heavy tail + sketch
    // collisions instead of a billion-token vocabulary. The oracle
    // rebuilds the identical counter matrix (q78's construction) so the
    // emitted estimates are verified too, not just the exact counts.
    Q("q140_sketch_heavy_hitters",
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |h AS (SELECT token,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(generate_series(1, length(token)),
             |      i -> CAST(ord(substr(token, i, 1)) AS BIGINT))),
             |    (a, b) -> (a * 31 + b) % 1000003) AS th
             |  FROM t),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h),
             |cmr AS (SELECT r, ((th % 2147483647) * (2*r+3) + (101*r+7)) % 2147483647 % 256 AS b,
             |               count(*) AS cnt
             |        FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
             |        GROUP BY 1, 2),
             |c AS (SELECT token, th, CAST(count(*) AS BIGINT) AS exact_n FROM h GROUP BY 1, 2),
             |e AS (SELECT c.token, c.exact_n, CAST(MIN(cmr.cnt) AS BIGINT) AS cms_n
             |      FROM c JOIN cmr
             |        ON cmr.b = ((c.th % 2147483647) * (2*cmr.r+3) + (101*cmr.r+7)) % 2147483647 % 256
             |      GROUP BY 1, 2)
             |SELECT e.token, e.exact_n, e.cms_n
             |FROM e CROSS JOIN n WHERE e.exact_n >= n.n // 30
             |ORDER BY exact_n DESC, token""".stripMargin),
      (s, d) => {
        import graft.functions.CountMin
        import graft.operators.CacheScope
        val (dRows, wCols) = (4, 256)
        CacheScope.release("q140")
        val toksDf = CacheScope.persist("q140", docs(s, d)
          .select(explode(tokens(col("text"))).as("token"))
          .withColumn("th", NativeText.tokenHashMod(col("token"))))
        // job 1: ONE aggregate row carries the sketch AND the total
        // (the q77 one-job lesson)
        val sk = toksDf.agg(CountMin.sketch(col("th"), dRows, wCols).as("sk"),
          count(lit(1)).as("n"))
        // job 2: map-side sketch-probe prune, THEN the exact count of
        // survivors only; est is per-token deterministic, so surviving
        // tokens keep all their instances and counts stay exact
        val pruned = toksDf.crossJoin(broadcast(sk))
          .filter(CountMin.estimate(col("sk"), col("th"), dRows, wCols) >=
            expr("n div 30"))
          .select("token", "th")
        pruned.groupBy("token", "th").agg(count(lit(1)).as("exact_n"))
          .crossJoin(broadcast(sk))
          .filter(col("exact_n") >= expr("n div 30"))
          .select(col("token"), col("exact_n"),
            CountMin.estimate(col("sk"), col("th"), dRows, wCols).as("cms_n"))
          .orderBy(col("exact_n").desc, col("token"))
      }),

    // ---- q141: deterministic probability-proportional-to-size sampling
    // (PPS) — the curation sampler that keeps a document with probability
    // proportional to its size (token-budget-balanced subsets; the same
    // mechanism serves any per-doc quality weight): keep iff the q64/q70
    // md5 20-bit lottery draw falls below the doc's weight
    // w = n_chars/max_chars in 2^20 units. RNG-free, rerun-stable,
    // map-side except the 1-row max scalar; inclusion is decided per row
    // with no coordination — the property that lets the sample run inside
    // any existing corpus scan at 100 TB. (The 2^20 quantization is the
    // documented resolution: weights are exact to ~1e-6.)
    Q("q141_pps_sample",
      Some("""WITH mx AS (SELECT MAX(n_chars) AS mc FROM documents),
             |h AS (SELECT doc_id, n_chars,
             |      CAST(list_sum(list_transform(generate_series(1, 6),
             |        i -> (CASE WHEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) >= 97
             |              THEN ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 87
             |              ELSE ord(substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 48 END)
             |             * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % 1048576 AS pp20
             |      FROM documents)
             |SELECT h.doc_id, h.n_chars,
             |       CAST((h.n_chars * 1048576) // mx.mc AS BIGINT) AS w_pp20
             |FROM h CROSS JOIN mx
             |WHERE h.pp20 < (h.n_chars * 1048576) // mx.mc
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val mx = docs(s, d).agg(max(col("n_chars")).as("mc"))
        val pp20 = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long") % 1048576L
        docs(s, d).select(col("doc_id"), col("n_chars"))
          .withColumn("pp20", pp20)
          .crossJoin(broadcast(mx))
          .withColumn("w_pp20", expr("(n_chars * 1048576) div mc"))
          .filter(col("pp20") < col("w_pp20"))
          .select("doc_id", "n_chars", "w_pp20")
          .orderBy("doc_id")
      }),

    // ---- q144: feature hashing (the hashing-trick vectorizer) — the
    // fixed-width, vocabulary-free featurization sklearn/Vowpal ship:
    // token -> bucket = token_hash mod 16, per-doc bucket counts emitted
    // as an ordered sparse-vector string (the q135 ordered-list idiom:
    // rank rides inside the collected struct, array_sort restores it —
    // strings hash-compare engine-stably where arrays don't). No
    // vocabulary table exists at ANY corpus size: the width is fixed up
    // front, which is the operator's point — map-side hash + one
    // (doc, bucket) partial-agg, nothing vocabulary-sized anywhere.
    Q("q144_feature_hashing",
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |h AS (SELECT doc_id,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(generate_series(1, length(token)),
             |      i -> CAST(ord(substr(token, i, 1)) AS BIGINT))),
             |    (a, b) -> (a * 31 + b) % 1000003) % 16 AS b
             |  FROM t),
             |pb AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS k FROM h GROUP BY 1, 2)
             |SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_tokens,
             |       string_agg(CAST(b AS VARCHAR) || ':' || CAST(k AS VARCHAR), ' ' ORDER BY b) AS fvec
             |FROM pb GROUP BY 1 ORDER BY doc_id""".stripMargin),
      (s, d) => {
        docs(s, d)
          .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .withColumn("b", NativeText.tokenHashMod(col("token")) % 16L)
          .groupBy("doc_id", "b").agg(count(lit(1)).as("k"))
          .groupBy("doc_id")
          .agg(sum(col("k")).as("n_tokens"),
            array_join(transform(
              array_sort(collect_list(struct(col("b"), col("k")))),
              x => concat_ws(":", x.getField("b"), x.getField("k"))),
              " ").as("fvec"))
          .orderBy("doc_id")
      }),

    // ---- q147: per-doc nearest text neighbor at Hamming ≤ 3 — the
    // dedup TRIAGE view (for each doc, its closest near-duplicate and
    // how close) rather than q82's flat pair list: symmetric band
    // candidates from the shared SimHashBands path, then a per-doc
    // top-1 window over (hamming, neighbor id). Within radius 3 the
    // banding pigeonhole is recall-lossless, so the per-candidate argmin
    // EQUALS the global argmin and the brute-force oracle is exact.
    // Window fan-in per doc = that doc's true near-dup degree — bounded
    // by real duplication, the same argument as the pair queries.
    Q("q147_nearest_neighbor",
      Some(s"""WITH $thCte, $shCte,
              |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
              |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t),
              |e AS (SELECT a.doc_id AS i, b.doc_id AS j,
              |        bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS ham
              |      FROM sim_t a JOIN sim_t b ON a.doc_id <> b.doc_id
              |      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
              |r AS (SELECT i, j, ham,
              |        row_number() OVER (PARTITION BY i ORDER BY ham, j) AS rnk FROM e)
              |SELECT i AS doc_id, j AS nn_id, CAST(ham AS BIGINT) AS hamming
              |FROM r WHERE rnk = 1 ORDER BY doc_id""".stripMargin),
      (s, d) => {
        import graft.operators.SimHashBands
        val bits = SimHashBands.bandBitsFor(Tables.rowCount(d, "documents"))
        val sim = simhash64Fp(s, d, "q147") // persisted: kernel runs once
        val bands = SimHashBands.bandsOf(sim, bits)
        val pairs = SimHashBands.verifiedPairs(bands, bands,
          col("a.doc_id") =!= col("b.doc_id"))
        pairs.withColumn("rnk", row_number().over(
            Window.partitionBy(col("i")).orderBy(col("hamming"), col("j"))))
          .filter(col("rnk") === 1)
          .select(col("i").as("doc_id"), col("j").as("nn_id"), col("hamming"))
          .orderBy("doc_id")
      }),

    // ---- q149: reciprocal-rank fusion — the hybrid-retrieval merge
    // (RRF, Cormack et al. SIGIR'09): three independent retrieval
    // signals for query doc 0 (shingle-overlap recall, fingerprint
    // Hamming, length proximity — the same algebra fuses any rankings,
    // incl. a vector kNN list) each TRUNCATED to their top-100, then
    // fused by score = Σ floor(1e9/(60+rank)) — integer-exact where the
    // float 1/(60+r) never hash-matches. Truncation is the scale design:
    // real fusion ranks only what each retriever RETURNED, so every
    // ranking is a TakeOrdered(100) (no global sort materializes) and
    // the rank windows run over 100 rows. Absent-from-a-ranking
    // contributes 0 (standard truncated RRF).
    Q("q149_rrf_fusion",
      Some(s"""WITH $thCte, $shCte,
              |qs AS (SELECT DISTINCT unnest(sh) AS v FROM sh_t WHERE doc_id = 0),
              |ds AS (SELECT DISTINCT doc_id, v FROM
              |        (SELECT doc_id, unnest(sh) AS v FROM sh_t WHERE doc_id <> 0)),
              |ovl AS (SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS ov
              |        FROM ds JOIN qs ON ds.v = qs.v GROUP BY 1),
              |ra AS (SELECT doc_id, row_number() OVER (ORDER BY ov DESC, doc_id) AS r
              |       FROM ovl ORDER BY ov DESC, doc_id LIMIT 100),
              |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
              |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t),
              |qf AS (SELECT lo, hi FROM sim_t WHERE doc_id = 0),
              |hb AS (SELECT s.doc_id,
              |         bit_count(xor(s.lo, q.lo)) + bit_count(xor(s.hi, q.hi)) AS ham
              |       FROM sim_t s CROSS JOIN qf q WHERE s.doc_id <> 0),
              |rb AS (SELECT doc_id, row_number() OVER (ORDER BY ham, doc_id) AS r
              |       FROM hb ORDER BY ham, doc_id LIMIT 100),
              |ln AS (SELECT d.doc_id, abs(d.n_chars - q.n_chars) AS ld
              |       FROM documents d CROSS JOIN
              |         (SELECT n_chars FROM documents WHERE doc_id = 0) q
              |       WHERE d.doc_id <> 0),
              |rc AS (SELECT doc_id, row_number() OVER (ORDER BY ld, doc_id) AS r
              |       FROM ln ORDER BY ld, doc_id LIMIT 100),
              |ids AS (SELECT doc_id FROM ra UNION SELECT doc_id FROM rb
              |        UNION SELECT doc_id FROM rc),
              |sc AS (SELECT ids.doc_id,
              |         COALESCE(1000000000 // (60 + ra.r), 0)
              |           + COALESCE(1000000000 // (60 + rb.r), 0)
              |           + COALESCE(1000000000 // (60 + rc.r), 0) AS score
              |       FROM ids LEFT JOIN ra ON ids.doc_id = ra.doc_id
              |                LEFT JOIN rb ON ids.doc_id = rb.doc_id
              |                LEFT JOIN rc ON ids.doc_id = rc.doc_id)
              |SELECT doc_id, CAST(score AS BIGINT) AS rrf_score
              |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
      (s, d) => {
        import graft.operators.CacheScope
        CacheScope.release("q149")
        // TakeOrdered(100) first, rank within the 100 after — the limit
        // order IS the rank order, so ranks are identical to ranking
        // the full candidate set, without a corpus-sized window.
        def top100(df: org.apache.spark.sql.DataFrame,
                   ord: Seq[Column]): org.apache.spark.sql.DataFrame =
          df.orderBy(ord: _*).limit(100)
            .withColumn("r", row_number().over(Window.orderBy(ord: _*)).cast("long"))
            .select("doc_id", "r")
        val sh = CacheScope.persist("q149", docs(s, d)
          .select(col("doc_id"),
            NativeText.shingleHashesOfText(col("text")).as("sh"),
            NativeText.simhash64(NativeText.shingleHashesOfText(col("text"))).as("fp"),
            col("n_chars")))
        val qs = sh.filter(col("doc_id") === 0)
          .select(explode(col("sh")).as("v")).distinct()
        val ds = sh.filter(col("doc_id") =!= 0)
          .select(col("doc_id"), explode(col("sh")).as("v")).distinct()
        val ra = top100(
          ds.join(broadcast(qs), "v").groupBy("doc_id")
            .agg(count(lit(1)).as("ov")),
          Seq(col("ov").desc, col("doc_id")))
        val qf = sh.filter(col("doc_id") === 0)
          .select(element_at(col("fp"), 1).as("qlo"), element_at(col("fp"), 2).as("qhi"))
        val rb = top100(
          sh.filter(col("doc_id") =!= 0).crossJoin(broadcast(qf))
            .select(col("doc_id"),
              (bit_count(element_at(col("fp"), 1).bitwiseXOR(col("qlo"))) +
                bit_count(element_at(col("fp"), 2).bitwiseXOR(col("qhi"))))
                .cast("long").as("ham")),
          Seq(col("ham").asc, col("doc_id")))
        val qn = sh.filter(col("doc_id") === 0).select(col("n_chars").as("qn"))
        val rc = top100(
          sh.filter(col("doc_id") =!= 0).crossJoin(broadcast(qn))
            .select(col("doc_id"), abs(col("n_chars") - col("qn")).as("ld")),
          Seq(col("ld").asc, col("doc_id")))
        val raR = ra.withColumnRenamed("r", "r_a")
        val rbR = rb.withColumnRenamed("r", "r_b")
        val rcR = rc.withColumnRenamed("r", "r_c")
        val ids = raR.select("doc_id").union(rbR.select("doc_id"))
          .union(rcR.select("doc_id")).distinct()
        ids.join(raR, Seq("doc_id"), "left")
          .join(rbR, Seq("doc_id"), "left")
          .join(rcR, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(expr("1000000000 div (60 + r_a)"), lit(0L)) +
              coalesce(expr("1000000000 div (60 + r_b)"), lit(0L)) +
              coalesce(expr("1000000000 div (60 + r_c)"), lit(0L))).as("rrf_score"))
          .orderBy(col("rrf_score").desc, col("doc_id")).limit(20)
      }),

    // ---- q158: cross-source contamination matrix — WHERE the near-dups
    // come from: q82's verified pair list aggregated by unordered source
    // pair (least/greatest normalization so (A,B) and (B,A) are one
    // cell). The curation diagnostic that tells you which feeds copy
    // from which — diagonal cells are within-source duplication, off-
    // diagonal are cross-feed contamination. Costs one pair join (the
    // shared SimHashBands path) + a broadcast join to the (doc, source)
    // projection + a cells-sized aggregate.
    Q("q158_source_overlap",
      Some(s"""WITH $thCte, $shCte,
              |sim_t AS (SELECT doc_id, ${simhash64HalfSql("sh", 0)} AS lo,
              |                 ${simhash64HalfSql("sh", 32)} AS hi FROM sh_t),
              |e AS (SELECT a.doc_id AS i, b.doc_id AS j
              |      FROM sim_t a JOIN sim_t b ON a.doc_id < b.doc_id
              |      WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
              |m AS (SELECT least(da.source, db.source) AS s_a,
              |             greatest(da.source, db.source) AS s_b
              |      FROM e JOIN documents da ON e.i = da.doc_id
              |             JOIN documents db ON e.j = db.doc_id)
              |SELECT s_a, s_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
              |FROM m GROUP BY 1, 2 ORDER BY s_a, s_b""".stripMargin),
      (s, d) => {
        import graft.operators.SimHashBands
        val bits = SimHashBands.bandBitsFor(Tables.rowCount(d, "documents"))
        val sim = docs(s, d)
          .select(col("doc_id"),
            NativeText.simhash64(NativeText.shingleHashesOfText(col("text"))).as("fp"))
          .select(col("doc_id"),
            element_at(col("fp"), 1).as("lo"), element_at(col("fp"), 2).as("hi"))
        val bands = SimHashBands.bandsOf(sim, bits)
        val pairs = SimHashBands.verifiedPairs(bands, bands,
          col("a.doc_id") < col("b.doc_id"))
        // the (doc_id, source) projection is CORPUS-sized — no broadcast
        // hint; the attach is a shuffle equi-join on doc_id (AQE may still
        // choose broadcast at small sf, but the plan must survive 100 TB)
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("i"), col("source").as("src_i")), "i")
          .join(src.select(col("doc_id").as("j"), col("source").as("src_j")), "j")
          .select(least(col("src_i"), col("src_j")).as("s_a"),
            greatest(col("src_i"), col("src_j")).as("s_b"))
          .groupBy("s_a", "s_b").agg(count(lit(1)).as("n_pairs"))
          .orderBy("s_a", "s_b")
      }),

    // ---- q161: source vocabulary Jaccard matrix — q158 asks which feeds
    // share DOCUMENTS; this asks which feeds share LANGUAGE: pairwise
    // Jaccard over per-source distinct-token vocabularies. The
    // mixture-design diagnostic (two feeds with near-identical
    // vocabularies are redundant in a training mix even when no document
    // is a near-dup). One (source, token) distinct pass; the
    // intersection is an equi-join ON TOKEN whose fan-out per token is
    // bounded by sources² (20 here — never corpus-shaped); vocabulary
    // sizes are a sources-sized broadcast dim. |A∪B| = |A|+|B|−|A∩B| so
    // no union is materialized. Exact ppm division.
    Q("q161_source_vocab_jaccard",
      Some("""WITH st AS (SELECT DISTINCT source, tok
             |            FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
             |                  FROM documents)),
             |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM st GROUP BY 1),
             |i AS (SELECT a.source AS s_a, b.source AS s_b,
             |             CAST(COUNT(*) AS BIGINT) AS n_inter
             |      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
             |      GROUP BY 1, 2)
             |SELECT i.s_a, i.s_b, i.n_inter,
             |       CAST((i.n_inter * 1000000) // (na.n + nb.n - i.n_inter) AS BIGINT) AS jaccard_ppm
             |FROM i JOIN sz na ON i.s_a = na.source
             |       JOIN sz nb ON i.s_b = nb.source
             |ORDER BY s_a, s_b""".stripMargin),
      (s, d) => {
        // r15 note: persisting st (3 consumers) was MEASURED SLOWER at
        // sf0.1 (0.48 → 0.61 s min quiet-normalized) — the branches
        // recompute concurrently while the persist serializes the DAG
        // behind one materialization (the q175 lesson). Left as recompute.
        val st = docs(s, d)
          .select(col("source"), explode(toks).as("tok"))
          .distinct()
        val sizes = st.groupBy("source").agg(count(lit(1)).as("n"))
        val inter = st.as("a")
          .join(st.as("b"),
            col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("s_a"), col("b.source").as("s_b"))
          .agg(count(lit(1)).as("n_inter"))
        inter
          .join(broadcast(sizes.select(col("source").as("s_a"), col("n").as("n_a"))), "s_a")
          .join(broadcast(sizes.select(col("source").as("s_b"), col("n").as("n_b"))), "s_b")
          .withColumn("jaccard_ppm",
            expr("(n_inter * 1000000) div (n_a + n_b - n_inter)"))
          .select(col("s_a"), col("s_b"), col("n_inter"), col("jaccard_ppm"))
          .orderBy("s_a", "s_b")
      }),

    // ---- q166: fixed-quota stratified sample — q70 keeps a FRACTION per
    // stratum; eval sets and annotation batches need an exact COUNT per
    // stratum (10 docs per language here, or all of them when the
    // stratum is smaller). Deterministic and RNG-free: rank within
    // stratum by the md5 of the doc id (a rerun-stable shuffle order —
    // same winners every run, every engine) and keep rank ≤ quota. One
    // partitioned window whose fan-in is the stratum size; the quota is
    // a literal. Emitting the rank makes under-filled strata visible
    // (max rank < quota = the stratum ran out).
    Q("q166_stratified_quota",
      Some("""WITH r AS (SELECT doc_id, lang,
             |        row_number() OVER (PARTITION BY lang
             |                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
             |        FROM documents)
             |SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank
             |FROM r WHERE rank <= 10
             |ORDER BY lang, rank""".stripMargin),
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"))
          .withColumn("rank", row_number().over(
            Window.partitionBy("lang")
              .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
            .cast("long"))
          .filter(col("rank") <= 10L)
          .orderBy("lang", "rank"))
      ,

    // ---- q169: token-concentration diagnostics per source — the
    // diversity numbers a mixture designer reads next to L129's overlap
    // matrix: Herfindahl index (Σ share², the concentration of the
    // source's token distribution) and its Gini-impurity complement,
    // exactly: hhi_ppm = Σc²·1e6 div N². One (source, token) count
    // rollup (partial-agg, vocabulary-sized) + one source-sized rollup
    // of Σc²; all map-side after the first shuffle. Overflow audit:
    // Σc²·1e6 needs N ≤ ~3·10^6 tokens per source in raw counts — past
    // that, fold counts to kilotokens first (the L110 quantization
    // rule); the sf corpus is well inside.
    Q("q169_source_concentration",
      Some("""WITH tc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
             |            FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
             |                  FROM documents)
             |            GROUP BY 1, 2)
             |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |       CAST(SUM(c * c) * 1000000 // (SUM(c) * SUM(c)) AS BIGINT) AS hhi_ppm,
             |       CAST(1000000 - SUM(c * c) * 1000000 // (SUM(c) * SUM(c)) AS BIGINT) AS gini_ppm
             |FROM tc GROUP BY 1 ORDER BY source""".stripMargin),
      (s, d) =>
        docs(s, d)
          .select(col("source"), explode(toks).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            sum(col("c") * col("c")).as("ss"))
          .withColumn("hhi_ppm", expr("ss * 1000000 div (n_tokens * n_tokens)"))
          .select(col("source"), col("n_tokens"), col("n_distinct"),
            col("hhi_ppm"), (lit(1000000L) - col("hhi_ppm")).as("gini_ppm"))
          .orderBy("source"))
      ,

    // ---- q177: vocabulary coverage curve — the tokenizer-sizing
    // question ("how many vocab entries cover 99% of token mass?")
    // answered exactly: tokens ranked by frequency, k_p = smallest rank
    // whose cumulative mass reaches p% of the corpus. The cumulative
    // runs through Windows.prefixSum (the two-phase range-partitioned
    // scan — the vocabulary is corpus-SHAPED at web scale, so no
    // single-partition window); k_p and the achieved coverage then need
    // NO rank column at all: k_p = #(tokens with cum·100 < p·N) + 1 and
    // cov(k_p) = min(cum | cum·100 ≥ p·N) — two plain aggregates over
    // the cum frame, targets exploded map-side.
    Q("q177_vocab_coverage",
      Some("""WITH tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
             |            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |            GROUP BY 1),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tc),
             |cu AS (SELECT tok, c,
             |         CAST(SUM(c) OVER (ORDER BY c DESC, tok) AS BIGINT) AS cum
             |       FROM tc)
             |SELECT CAST(t.p AS BIGINT) AS p,
             |       CAST(SUM(CASE WHEN cu.cum * 100 < t.p * n.n THEN 1 ELSE 0 END) + 1 AS BIGINT) AS k_tokens,
             |       CAST(MIN(CASE WHEN cu.cum * 100 >= t.p * n.n THEN cu.cum END) * 1000000 // n.n AS BIGINT) AS cov_ppm
             |FROM cu CROSS JOIN n CROSS JOIN (VALUES (50), (90), (99)) t(p)
             |GROUP BY t.p, n.n ORDER BY p""".stripMargin),
      (s, d) => {
        import graft.operators.Windows
        val tc = docs(s, d)
          .select(explode(toks).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val cu = Windows.prefixSum(tc, Seq(col("c").desc, col("tok")),
          col("c"), "cum")
        val nRow = tc.agg(sum(col("c")).as("n"))
        cu.crossJoin(broadcast(nRow))
          .withColumn("p", explode(array(lit(50L), lit(90L), lit(99L))))
          .groupBy("p")
          .agg((sum(when(expr("cum * 100 < p * n"), 1L).otherwise(0L)) + 1L).as("k_tokens"),
            expr("min(case when cum * 100 >= p * n then cum end) * 1000000 div max(n)").as("cov_ppm"))
          .orderBy("p")
      }),

    // ---- q189: approximate-operator audit — the engine evaluating its
    // OWN approximation: q34's MinHash-LSH candidate generation graded
    // against an exact Jaccard≥0.5 ground truth computed WITHOUT an
    // all-pairs join (the q74 prefix-filter construction over shingle
    // hashes — recall-lossless for the threshold by the prefix-filtering
    // theorem, so "truth" really is exhaustive). recall_ppm is the
    // number LSH theory predicts (1−(1−J²)⁴ per pair); precision_ppm is
    // what band collisions cost before verification. One full-outer join
    // of two pair frames + a 1-row aggregate — the eval harness AS a
    // query, runnable at corpus scale on every ingest.
    Q("q189_lsh_audit",
      Some(
        s"""WITH $thCte, $shCte,
           |ss_t AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh_t),
           |g AS (SELECT doc_id, unnest(ss) AS h FROM ss_t),
           |f AS (SELECT h, COUNT(*) AS df FROM g GROUP BY 1),
           |szt AS (SELECT doc_id, len(ss) AS n FROM ss_t),
           |r AS (SELECT g.doc_id, g.h,
           |        row_number() OVER (PARTITION BY g.doc_id ORDER BY f.df, g.h) AS rnk, szt.n
           |      FROM g JOIN f USING (h) JOIN szt USING (doc_id)),
           |p AS (SELECT doc_id, h FROM r WHERE rnk <= n - (n + 1) // 2 + 1),
           |tcand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           |          FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id),
           |truth AS (SELECT i, j FROM tcand JOIN ss_t x ON x.doc_id = i
           |                 JOIN ss_t y ON y.doc_id = j
           |          WHERE 3 * len(list_intersect(x.ss, y.ss)) >= len(x.ss) + len(y.ss)),
           |mh_t AS (
           |  SELECT doc_id, ${(0 until 8).map(k => mhSql(k) + s" AS mh$k").mkString(",\n         ")}
           |  FROM sh_t),
           |bands AS (
           |  ${(0 until 4).map(b =>
              s"SELECT doc_id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || ':' || CAST(mh${2 * b + 1} AS VARCHAR) AS bkey FROM mh_t")
              .mkString("\n  UNION ALL ")}),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
           |m AS (SELECT CASE WHEN t.i IS NOT NULL THEN 1 ELSE 0 END AS tt,
           |             CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END AS cc
           |      FROM truth t FULL JOIN cand c ON t.i = c.i AND t.j = c.j)
           |SELECT CAST(SUM(tt) AS BIGINT) AS n_truth,
           |       CAST(SUM(cc) AS BIGINT) AS n_cand,
           |       CAST(SUM(tt * cc) AS BIGINT) AS tp,
           |       CAST(SUM(tt * cc) * 1000000 // greatest(SUM(tt), 1) AS BIGINT) AS recall_ppm,
           |       CAST(SUM(tt * cc) * 1000000 // greatest(SUM(cc), 1) AS BIGINT) AS precision_ppm
           |FROM m""".stripMargin),
      (s, d) => {
        import graft.operators.CacheScope
        CacheScope.release("q189")
        val base = CacheScope.persist("q189", docs(s, d)
          .select(col("doc_id"), NativeText.shingleHashesOfText(col("text")).as("sh")))
        val ss = base.select(col("doc_id"), array_distinct(col("sh")).as("ss"))
        val g = ss.select(col("doc_id"), explode(col("ss")).as("h"))
        val wd = Window.partitionBy(col("doc_id"))
        // r15: prefix feeds BOTH sides of the candidate self-join; its
        // subtree is the expensive part (two shuffles + sorts: the
        // h-keyed df window and the doc-keyed rank windows) — persist so
        // the window pipeline runs once, not per join side.
        val prefix = CacheScope.persist("q189", g
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
          .withColumn("rnk", row_number().over(wd.orderBy(col("df"), col("h"))))
          .withColumn("n", count(lit(1)).over(wd))
          .filter(col("rnk") <= expr("n - (n + 1) div 2 + 1"))
          .select("doc_id", "h"))
        val tcand = prefix.as("a").join(prefix.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()
        val truth = tcand
          .join(ss.select(col("doc_id").as("i"), col("ss").as("ss1")), "i")
          .join(ss.select(col("doc_id").as("j"), col("ss").as("ss2")), "j")
          .filter(size(array_intersect(col("ss1"), col("ss2"))).cast("long") * 3L >=
            size(col("ss1")).cast("long") + size(col("ss2")).cast("long"))
          .select(col("i"), col("j"))
        val sig = base.select(col("doc_id"), col("sh"),
          NativeText.minhash8(col("sh")).as("mh8"))
        // empty-shingle docs get a NULL bkey (never equi-joins) — matching
        // the oracle's NULL-propagating '||' concat; concat_ws alone would
        // skip the null halves and emit a joinable "" key
        def mhk(k: Int) = element_at(col("mh8"), k + 1)
        val bands = sig.select(col("doc_id"), explode(array(
          (0 until 4).map(b => struct(lit(b).as("band"),
            when(size(col("sh")) > 0,
              concat_ws(":", mhk(2 * b), mhk(2 * b + 1))).as("bkey"))): _*)).as("bk"))
          .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()
        truth.withColumn("tt", lit(1L))
          .join(cand.withColumn("cc", lit(1L)), Seq("i", "j"), "full")
          .agg(sum(coalesce(col("tt"), lit(0L))).as("n_truth"),
            sum(coalesce(col("cc"), lit(0L))).as("n_cand"),
            sum(coalesce(col("tt"), lit(0L)) * coalesce(col("cc"), lit(0L))).as("tp"))
          .select(col("n_truth"), col("n_cand"), col("tp"),
            expr("tp * 1000000 div greatest(n_truth, 1)").as("recall_ppm"),
            expr("tp * 1000000 div greatest(n_cand, 1)").as("precision_ppm"))
      }),

    // ---- q192: ingest novelty curve — "is the next batch of documents
    // still worth acquiring?" measured as Heaps-law decay: docs in
    // ingest order (doc_id) split into 10 equal batches, each bigram
    // attributed to the batch that saw it FIRST (min bucket — one
    // gram-keyed partial-agg), per-batch new-gram counts and the
    // cumulative vocabulary curve in exact ppm. The decision number
    // behind data-acquisition budgets; the corpus cost is one distinct
    // (gram → min bucket) rollup.
    Q("q192_novelty_curve",
      Some("""WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |g AS (SELECT least(doc_id * 10 // nn.n, 9) AS bucket,
             |             unnest(list_transform(generate_series(1, len(ts) - 1),
             |               i -> ts[i] || ' ' || ts[i + 1])) AS gram
             |      FROM tk CROSS JOIN nn),
             |fs AS (SELECT gram, CAST(MIN(bucket) AS BIGINT) AS b FROM g GROUP BY 1),
             |nb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_new FROM fs GROUP BY 1),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM fs)
             |SELECT nb.b AS bucket, nb.n_new,
             |       CAST(SUM(nb.n_new) OVER (ORDER BY nb.b) * 1000000 // tot.t AS BIGINT) AS cum_vocab_ppm
             |FROM nb CROSS JOIN tot ORDER BY bucket""".stripMargin),
      (s, d) => {
        val nRow = Tables.documents(s, d).agg(count(lit(1)).as("n"))
        val g = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .crossJoin(broadcast(nRow))
          .select(least(expr("doc_id * 10 div n"), lit(9L)).as("bucket"),
            explode(expr(
              "transform(sequence(1, size(ts) - 1), i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"))
              .as("gram"))
        val fs = g.groupBy("gram").agg(min(col("bucket")).as("b"))
        val nb = fs.groupBy("b").agg(count(lit(1)).as("n_new"))
        val tot = fs.agg(count(lit(1)).as("t"))
        nb.crossJoin(broadcast(tot))
          .withColumn("cum_vocab_ppm",
            expr("sum(n_new) over (order by b rows between unbounded preceding and current row) * 1000000 div t"))
          .select(col("b").as("bucket"), col("n_new"), col("cum_vocab_ppm"))
          .orderBy("bucket")
      }),

    // ---- q193: budget-constrained curation — greedy knapsack by
    // quality-per-token: rank docs by (distinct-token / token) density
    // and keep them in density order until the 20%-of-corpus token
    // budget is spent — the classic value/cost greedy (optimal up to one
    // item for knapsack). The rank's cumulative cost runs through
    // Windows.prefixSum (the corpus-shaped total order, never a
    // single-partition window); the budget is a 1-row scalar. Output =
    // the selected set with its running spend, fully deterministic
    // under the (density DESC, doc_id) total order.
    Q("q193_budget_curation",
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |v AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
             |             CAST(len(list_distinct(ts)) AS BIGINT) AS n_dis FROM tk),
             |w AS (SELECT doc_id, n_tok, n_dis,
             |             CAST(n_dis * 1000000 // greatest(n_tok, 1) AS BIGINT) AS density_ppm
             |      FROM v),
             |b AS (SELECT CAST(SUM(n_tok) * 2 // 10 AS BIGINT) AS budget FROM v),
             |c AS (SELECT doc_id, n_tok, density_ppm,
             |        CAST(SUM(n_tok) OVER (ORDER BY density_ppm DESC, doc_id) AS BIGINT) AS cum_tok
             |      FROM w)
             |SELECT c.doc_id, c.n_tok, c.density_ppm, c.cum_tok
             |FROM c CROSS JOIN b WHERE c.cum_tok <= b.budget
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        import graft.operators.Windows
        val w = docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), size(col("ts")).cast("long").as("n_tok"),
            size(array_distinct(col("ts"))).cast("long").as("n_dis"))
          .withColumn("density_ppm", expr("n_dis * 1000000 div greatest(n_tok, 1)"))
        val budget = w.agg(expr("sum(n_tok) * 2 div 10").as("budget"))
        val c = Windows.prefixSum(w,
          Seq(col("density_ppm").desc, col("doc_id")), col("n_tok"), "cum_tok")
        c.crossJoin(broadcast(budget))
          .filter(col("cum_tok") <= col("budget"))
          .select(col("doc_id"), col("n_tok"), col("density_ppm"), col("cum_tok"))
          .orderBy("doc_id")
      }),

    // ---- q194: overlapping chunker — the RAG/context-window ingest
    // shape: every document split into 64-token windows at stride 48
    // (16-token overlap, so no retrieval-relevant span is cut without a
    // window that contains it whole). Map-side array slicing (one
    // `transform` + explode — no shuffle at all until a consumer
    // aggregates); chunks emit as md5 digests so the verified row stays
    // narrow while still pinning the exact chunk text byte-for-byte.
    Q("q194_overlap_chunks",
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |c AS (SELECT doc_id,
             |        unnest(list_transform(generate_series(0, (len(ts) - 1) // 48),
             |          i -> struct_pack(cid := i,
             |                 ch := array_to_string(ts[i * 48 + 1 : i * 48 + 64], ' ')))) AS s
             |      FROM tk)
             |SELECT doc_id, CAST(s.cid AS BIGINT) AS chunk_id,
             |       CAST(len(string_split(s.ch, ' ')) AS BIGINT) AS n_tokens,
             |       md5(s.ch) AS chunk_md5
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
      (s, d) =>
        docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, (size(ts) - 1) div 48),
              |  i -> struct(cast(i as bigint) as cid,
              |              array_join(slice(ts, i * 48 + 1, 64), ' ') as ch))""".stripMargin))
            .as("s"))
          .select(col("doc_id"), col("s.cid").as("chunk_id"),
            size(split(col("s.ch"), " ")).cast("long").as("n_tokens"),
            md5(col("s.ch").cast("binary")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id")),

    // ---- q195: exact MRR@10 retrieval eval — the metric machinery of
    // L117's retrieval (token-overlap ranking) graded against a
    // relevance oracle (same-source docs), per query, in exact ppb:
    // RR = 1e9 div rank of the first relevant hit in the top-10, 0 on a
    // miss. 20 query docs ride ONE (value) equi-join against the corpus
    // postings (the q36 bounded-query pattern); per-query top-10 via a
    // query-partitioned window whose fan-in is the candidate count.
    // Honesty note: on this synthetic corpus source does not correlate
    // with token overlap, so the measured MRR is the ~random baseline —
    // the metric is the deliverable, and it is exact.
    Q("q195_retrieval_mrr",
      Some("""WITH tk AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
             |post AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(ts) AS tok FROM tk)),
             |q AS (SELECT doc_id AS qid, tok FROM post WHERE doc_id < 20),
             |ovl AS (SELECT q.qid, p.doc_id,
             |          CAST(COUNT(*) AS BIGINT) AS ov
             |        FROM q JOIN post p ON q.tok = p.tok AND p.doc_id <> q.qid
             |        GROUP BY 1, 2),
             |r AS (SELECT qid, doc_id, ov,
             |        row_number() OVER (PARTITION BY qid ORDER BY ov DESC, doc_id) AS rnk
             |      FROM ovl),
             |rel AS (SELECT r.qid, r.rnk
             |        FROM r JOIN documents dq ON dq.doc_id = r.qid
             |               JOIN documents dd ON dd.doc_id = r.doc_id
             |        WHERE r.rnk <= 10 AND dq.source = dd.source),
             |f AS (SELECT qid, MIN(rnk) AS first_rel FROM rel GROUP BY 1),
             |qs AS (SELECT DISTINCT doc_id AS qid FROM documents WHERE doc_id < 20)
             |SELECT qs.qid AS query_id,
             |       CAST(COALESCE(f.first_rel, 0) AS BIGINT) AS first_rel_rank,
             |       CAST(CASE WHEN f.first_rel IS NULL THEN 0
             |            ELSE 1000000000 // f.first_rel END AS BIGINT) AS rr_ppb
             |FROM qs LEFT JOIN f ON qs.qid = f.qid
             |ORDER BY query_id""".stripMargin),
      (s, d) => {
        // r15 restructure (guide §3.2 semi-join pre-filter; result
        // identical): only tokens that appear in some QUERY doc can
        // contribute to an overlap count, and filter-then-distinct ==
        // distinct-then-filter on (doc_id, tok). So build the 20-doc
        // query vocabulary first (pushdown filter doc_id < 20 reaches
        // the scan), broadcast it, and drop non-query tokens from the
        // corpus postings BEFORE the corpus-wide distinct — the big
        // shuffle now carries only query-vocabulary postings. Before:
        // the full corpus (doc_id, tok) distinct ran TWICE (5 scans, 14
        // exchanges, 0 reused at runtime).
        import graft.operators.CacheScope
        CacheScope.release("q195")
        val q = CacheScope.persist("q195", docs(s, d)
          .filter(col("doc_id") < 20L)
          .select(col("doc_id").as("qid"), explode(toks).as("tok")).distinct())
        val qvocab = q.select("tok").distinct()
        val post = docs(s, d)
          .select(col("doc_id"), explode(toks).as("tok"))
          .join(broadcast(qvocab), Seq("tok"), "left_semi")
          .distinct()
        val r = q.join(post.as("p"),
            q("tok") === col("p.tok") && col("p.doc_id") =!= col("qid"))
          .groupBy(col("qid"), col("p.doc_id").as("doc_id"))
          .agg(count(lit(1)).as("ov"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("ov").desc, col("doc_id"))).cast("long"))
          .filter(col("rnk") <= 10L)
        // (doc_id, source) is corpus-sized — never broadcast; but r is
        // BOUNDED (≤ 10 ranks × 20 query ids), so broadcast r against it
        // (build side = the bounded side, guide §3.1) instead of
        // shuffling the corpus-sized src frame twice.
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val srcq = Tables.documents(s, d).filter(col("doc_id") < 20L)
          .select(col("doc_id").as("qid"), col("source").as("qsrc"))
        val f = broadcast(r.join(broadcast(srcq), "qid"))
          .join(src.select(col("doc_id").as("doc_id"), col("source").as("dsrc")), "doc_id")
          .filter(col("qsrc") === col("dsrc"))
          .groupBy("qid").agg(min(col("rnk")).as("first_rel"))
        Tables.documents(s, d).filter(col("doc_id") < 20L)
          .select(col("doc_id").as("query_id"))
          .join(broadcast(f.select(col("qid").as("query_id"), col("first_rel"))),
            Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("first_rel"), lit(0L)).as("first_rel_rank"),
            when(col("first_rel").isNull, 0L)
              .otherwise(expr("1000000000 div first_rel")).as("rr_ppb"))
          .orderBy("query_id")
      })
  )

  /** Containment pairs over a (doc_id, text) frame — q84's operator body
    * with the deployment knobs hoisted to parameters (VERDICT r5 #3); the
    * declared query's oracle interpolates the SAME default constants, so
    * tuning a deployment means calling this with other values, not editing
    * the query. Exact integer arithmetic throughout (SURVEY §2.9 L56).
    *  - modP: mod-p fingerprint sampling rate (expected prints per doc =
    *    shingles/p; p rises with document length at deployment).
    *  - minSupport: minimum sampled prints for a meaningful denominator
    *    (guards 1-of-1 noise; tuned to the corpus's document-length floor).
    *  - thrNum/thrDen: containment threshold |F_A∩F_B|/|F_A| >= Num/Den.
    */
  def containmentPairs(docsDf: org.apache.spark.sql.DataFrame,
                       modP: Int = ContainModP,
                       minSupport: Int = ContainMinSupport,
                       thrNum: Int = ContainThrNum,
                       thrDen: Int = ContainThrDen): org.apache.spark.sql.DataFrame = {
    // r15: fp feeds the size table AND both self-join sides (kernel ×3
    // without a persist); the sampled prints are ~shingles/modP per doc,
    // so the cached frame is a small fraction of the corpus
    graft.operators.CacheScope.release("q84cp")
    val fp = graft.operators.CacheScope.persist("q84cp",
      docsDf.select(col("doc_id"),
        array_distinct(filter(NativeText.shingleHashesOfText(col("text")),
          x => x % modP.toLong === 0L)).as("f")))
    val sz = fp.filter(size(col("f")) >= minSupport)
      .select(col("doc_id").as("i"), size(col("f")).cast("long").as("n"))
    val e = fp.select(col("doc_id"), explode(col("f")).as("v"))
    val pair = e.as("a").join(e.as("b"),
      col("a.v") === col("b.v") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("shared"))
    pair.join(sz, "i")
      .filter(col("shared") * thrDen.toLong >= col("n") * thrNum.toLong)
      .select(col("i"), col("j"), col("shared"), col("n").as("fp_i"),
        expr("(shared * 1000000) div n").as("cont_ppm"))
      .orderBy("i", "j")
  }
}
