package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, TextOps, TokenSetKernel}

import graft.SparkEntry._

/** Text analysis and the curation pipelines over the `documents` table
  * (north star; [[graft.operators.TextOps]], [[graft.operators.Curation]]). */
private[graft] object TextQueries {
  /** `bm25_topk`'s fixed query set and cutoff — ONE definition feeding
    * both the Spark declaration and the generated oracle SQL (the
    * [[IncContainTenths]] rule: shared constants cannot silently
    * diverge). Two 3-term queries over the corpus vocabulary with
    * distinct df profiles. */
  private val Bm25Queries = Seq(
    "q_stream" -> Seq("spark", "stream", "window"),
    "q_join" -> Seq("join", "merge", "hash"))
  private val Bm25K = 20

  /** `hybrid_rrf` knobs (query + oracle, the [[Bm25Queries]] rule):
    * 3 doc-as-query probes (documents and embeddings share ids), each
    * arm cut to 20 before fusion, fused top-10 served at RRF K=60. */
  private val HybridProbes = 3
  private val HybridArmK = 20
  private val HybridK = 10

  /** `bm25_passages` top-k (query + oracle, the [[Bm25Queries]] rule);
    * chunking fixed at 32/24 in both spellings. */
  private val PassageK = 10

  /** `mix_rebalance`'s target language shares (percent) and token
    * budget (percent of corpus tokens) — shared query/oracle constants. */
  private val MixTargets = Seq("en" -> 40, "de" -> 15, "fr" -> 15,
    "es" -> 15, "zh" -> 15)
  private val MixBudgetPct = 50

  /** `source_cap`'s per-source keep budget (query + oracle). */
  private val SourceCapN = 20

  /** `dedup_substring_spans` window length in tokens (query + oracle). */
  private val SpanTokens = 8

  /** `cdc_chunks` rolling-window width (chars) and boundary mask bits
    * (expected chunk length 2^bits chars) — shared query/oracle. */
  private val CdcWindow = 16
  private val CdcMaskBits = 6

  /** `dsir_weights` target distribution: the curated source list whose
    * bigram statistics define the importance-sampling target (query +
    * oracle — the [[IncContainTenths]] shared-constant rule). */
  private val DsirTargetSources = Seq("src0", "src1", "src2", "src3")

  /** `ppl_buckets` bucket count (query + oracle). */
  private val PplBucketsN = 4

  /** `source_overlap` minhash components + shingle width (query +
    * oracle). */
  private val OverlapM = 64
  private val OverlapShingle = 3

  /** `tfidf_cosine_capped` salient-postings ceiling (query + oracle):
    * candidate generation is restricted to tokens with ≤ this many
    * salient postings, bounding candidate mass by D·k·N (linear in
    * corpus size). 180 sits between the verify corpus's p50 (164) and
    * p90 (209) postings so the cap measurably bites — loss vs the
    * uncapped truth measured in TFIDF_SHARD_r13.json. */
  private val TfidfDfCeiling = 180L

  /** `tfidf_cosine_sharded`'s operator call, shared with the scale
    * smoke so both time the plan the registry declares. */
  private[graft] def tfidfCosineSharded(docs: DataFrame): DataFrame =
    TextOps.tfidfCosinePairs(docs,
      thresholdHundredths = 60, buildShards = 0,
      maxBroadcastDocs = 10000000L)

  /** `shard_balance` output shard count (query + oracle). */
  private val ShardBalanceN = 8

  /** Persisted lexical (BM25) serving index for `hybrid_rrf_indexed`
    * (r17, the r16 verdict #2): tf postings + doclen + corpus stats
    * over the full documents table, the [[SparkEntry.pqIndexFor]] memoized
    * unique-path contract — built at most once per corpus dir, repeat
    * invocations price the SERVE. */
  private def lexIndexFor(s: SparkSession, dir: String): String =
    persisted(dir + "#lex") { p =>
      TextOps.saveLexicalIndex(Tables.documents(s, dir), p)
    }

  /** `phrase_search` query set (query + oracle): two- and three-token
    * phrases over the corpus vocabulary — a high-frequency bigram, a
    * repetition bigram (exercises overlap counting), and one trigram. */
  private val PhraseQueries: Seq[(String, String)] = Seq(
    ("p_batch_batch", "batch batch"),
    ("p_join_vector", "join vector"),
    ("p_sort_merge", "sort merge"),
    ("p_merge_slow_join", "merge slow join"))

  /** Unrolled BPE merge-round oracle — same greedy top-pair + literal
    * space-delimited replacement as [[graft.operators.TextOps.bpeMerges]],
    * one (count, top-1, rewrite) CTE triple per round. */
  /** The unrolled BPE TRAINING chain (shared by `bpe_merges` and
    * `bpe_encode`): weighted word table w0, per-round pair counts g$r,
    * winning merge t$r, and the intermediate merged tables w$r. */
  private def bpeTrainCtes(rounds: Int): Seq[String] = {
    // weighted-word-table BPE: one corpus aggregation to (sym, cnt),
    // then every unrolled round runs over |vocab| rows
    val ctes = scala.collection.mutable.ListBuffer(
      """w0 AS (SELECT array_to_string(list_transform(
        |    range(1, len(word)+1), i -> substr(word, i, 1)), ' ') AS sym,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY 1)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      ctes += s"""g$r AS (SELECT cnt, unnest(list_transform(
        |    range(1, greatest(len(toks)-1, 1)+1),
        |    i -> array_to_string(toks[i:i+1], ' '))) AS gram
        |  FROM (SELECT string_split(sym, ' ') AS toks, cnt FROM w$p))""".stripMargin
      ctes += s"""t$r AS (SELECT CAST($r AS INT) AS round, gram AS pair,
        |    CAST(SUM(cnt) AS BIGINT) AS cnt
        |  FROM g$r WHERE contains(gram, ' ')
        |  GROUP BY 2 ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin
      if (r < rounds)
        ctes += s"""w$r AS (SELECT
          |    trim(replace(' ' || sym || ' ',
          |      ' ' || (SELECT pair FROM t$r) || ' ',
          |      ' ' || replace((SELECT pair FROM t$r), ' ', '') || ' ')) AS sym,
          |    cnt
          |  FROM w$p)""".stripMargin
    }
    ctes.toSeq
  }

  private def bpeSql(rounds: Int): String = {
    val union = (1 to rounds).map(r => s"SELECT * FROM t$r")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeTrainCtes(rounds).mkString(",\n")}\n$union ORDER BY round"
  }

  /** `bpe_encode`: the training chain, then the merges applied in order
    * to the DISTINCT vocabulary (v0..v$rounds), then per-doc encoded
    * token counts via the word join. The CTE chain (through a final
    * `perdoc` relation) is shared with the `bpe_fertility` oracle. */
  private def bpeEncodeSql(rounds: Int): String =
    s"""WITH ${bpeEncodeCtes(rounds).mkString(",\n")}
       |SELECT doc_id, words, bpe_tokens FROM perdoc
       |ORDER BY doc_id""".stripMargin

  /** `bpe_fertility`: the same encode chain aggregated per language —
    * (1000·Σ bpe_tokens) div (Σ words), exact integer milli-units. */
  private def bpeFertilitySql(rounds: Int): String =
    s"""WITH ${bpeEncodeCtes(rounds).mkString(",\n")}
       |SELECT doc.lang, CAST(SUM(p.words) AS BIGINT) AS words,
       |  CAST(SUM(p.bpe_tokens) AS BIGINT) AS bpe_tokens,
       |  CAST((1000 * SUM(p.bpe_tokens)) // SUM(p.words) AS BIGINT)
       |    AS fertility_milli
       |FROM perdoc p JOIN documents doc USING (doc_id)
       |GROUP BY 1 ORDER BY doc.lang""".stripMargin

  private def bpeEncodeCtes(rounds: Int): Seq[String] = {
    val ctes = scala.collection.mutable.ListBuffer(bpeTrainCtes(rounds): _*)
    ctes += """v0 AS (SELECT word, array_to_string(list_transform(
      |    range(1, len(word)+1), i -> substr(word, i, 1)), ' ') AS sym
      |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE word <> '')""".stripMargin
    // exhausted-round guard mirroring bpeEncode: an empty t$r makes the
    // scalar subquery NULL — the round must be a no-op, not a
    // NULL-poisoning of every sym
    for (r <- 1 to rounds) {
      val p = r - 1
      ctes += s"""v$r AS (SELECT word,
        |    CASE WHEN (SELECT pair FROM t$r) IS NULL THEN sym
        |    ELSE trim(replace(' ' || sym || ' ',
        |      ' ' || (SELECT pair FROM t$r) || ' ',
        |      ' ' || replace((SELECT pair FROM t$r), ' ', '') || ' '))
        |    END AS sym
        |  FROM v$p)""".stripMargin
    }
    ctes += s"""enc AS (SELECT word,
      |    CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_sub
      |  FROM v$rounds)""".stripMargin
    ctes += """d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents)""".stripMargin
    ctes += """perdoc AS (SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS words,
      |  CAST(SUM(e.n_sub) AS BIGINT) AS bpe_tokens
      |  FROM d JOIN enc e ON d.word = e.word
      |  WHERE d.word <> '' GROUP BY 1)""".stripMargin
    ctes.toSeq
  }

  private def occSql(word: String): String =
    s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $word ', ''))) // ${word.length + 2}"

  /** The canonical normalization chain in DuckDB form — plain
    * character classes only, identical under Java regex and RE2 (the
    * [[graft.operators.TextOps.normalizedText]] contract); DuckDB's
    * regexp_replace needs the explicit 'g' flag Spark implies. */
  private val SqlNormText: String =
    "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), " +
      "'[0-9]+', '0', 'g'), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** DuckDB replay of [[TextOps.withPiiFixture]] — byte-identical
    * contact-blob derivation (residues mod 3/4/5 → email/IPv4/phone). */
  private val SqlPiiFixture: String =
    """SELECT doc_id, source, text
      || CASE WHEN doc_id % 3 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR)
           || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
      || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
           || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
           || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
      FROM documents""".linesIterator.map(_.trim).mkString(" ")

  /** `CAST(len(regexp_extract_all(text, pat)) AS BIGINT)` — DuckDB's
    * spelling of Spark's `regexp_count`. */
  private def sqlPiiCount(pat: String): String =
    s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)"

  /** The hybrid tiers' LEXICAL arm CTEs alone (ends in `lex`), shared
    * by the scan-fused and index-served oracles — the persisted
    * lexical index's serve is bit-identical to the scan arm by
    * contract, so one SQL replays both. */
  private def sqlLexArmCtes(armK: Int): String =
    s"""qt AS (
      |  SELECT doc_id AS qid, unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM documents WHERE doc_id < $HybridProbes),
      |hbase AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |htf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM hbase WHERE token IN (SELECT DISTINCT token FROM qt)
      |  GROUP BY 1, 2),
      |hdf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM htf GROUP BY 1),
      |hdl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |hstats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      |  FROM hdl),
      |lscored AS (
      |  SELECT q.qid, htf.doc_id,
      |    CAST(SUM(CAST(floor(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * 10000) AS BIGINT)
      |      * CAST(floor((htf.tf * 2.2) / (htf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) * 10000) AS BIGINT)) AS BIGINT) AS score
      |  FROM htf JOIN qt q ON htf.token = q.token
      |    JOIN hdf d ON htf.token = d.token
      |    JOIN hdl l ON htf.doc_id = l.doc_id
      |    CROSS JOIN hstats s
      |  WHERE htf.doc_id <> q.qid
      |  GROUP BY 1, 2),
      |lex AS (SELECT qid, doc_id, lex_rnk FROM (
      |  SELECT qid, doc_id,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rnk
      |  FROM lscored) lr WHERE lex_rnk <= $armK)""".stripMargin

  /** The scan-tier hybrid's DENSE arm CTEs (quantized brute cosine,
    * ends in `den`). */
  private def sqlDenseBruteArmCtes(armK: Int): String =
    s"""hdq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
      |  WHERE vec_id < $HybridProbes),
      |hprod AS (
      |  SELECT hdq.qid, e.vec_id AS doc_id,
      |    SUM(CAST(FLOOR(CAST(hdq.qe[g.k] AS DOUBLE) * 1000) AS BIGINT)
      |      * CAST(FLOOR(CAST(e.embedding[g.k] AS DOUBLE) * 1000) AS BIGINT)) AS score
      |  FROM hdq CROSS JOIN embeddings e CROSS JOIN generate_series(1, 64) g(k)
      |  WHERE e.vec_id <> hdq.qid GROUP BY 1, 2),
      |den AS (SELECT qid, doc_id, den_rnk FROM (
      |  SELECT qid, doc_id,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, doc_id) AS BIGINT) AS den_rnk
      |  FROM hprod) dr WHERE den_rnk <= $armK)""".stripMargin

  /** The hybrid tier's two arm chains as a WITH-body block (no WITH
    * keyword): lexical doc-as-query BM25 (`lex`, rank ≤ `armK`) and
    * quantized-dot dense (`den`, rank ≤ `armK`). Shared by the
    * `hybrid_rrf` and `hybrid_recall` oracles so the audited arms ARE
    * the served arms in both spellings; a tier cut tighter than
    * `armK` is a prefix filter on these (same total order). */
  private def sqlHybridArms(armK: Int): String =
    s"""${sqlLexArmCtes(armK)},
      |${sqlDenseBruteArmCtes(armK)}""".stripMargin

  /** The INDEX-SERVED hybrid's dense arm: the IVF-PQ chain
    * ([[sqlAnnIvfPq]]'s training + probe + ADC CTEs, `i`-prefixed so
    * they compose beside the scan arms in one WITH) cut at `armK`,
    * ending in `iden` (qid, doc_id, den_rnk). Requires [[SqlQv]] in
    * scope; probes = 1 (the serve's declared configuration — each
    * candidate appears via exactly one cell, so the rank order is
    * total). */
  private def sqlIvfPqArmCtes(numQueries: Int, armK: Int): String =
    s"""${sqlCellCtes(IvfCells, IvfCellRounds)},
      |${sqlSvRaw(PqM)},
      |${sqlPqTrainCtes(PqCw, PqRounds)},
      |iqd AS (SELECT vec_id AS qid, sub, code, dist AS qdist
      |  FROM pdist WHERE vec_id < $numQueries),
      |ibest AS (SELECT vec_id AS qid, cluster AS cell FROM (
      |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cluster) AS crn
      |    FROM cdist WHERE vec_id < $numQueries) t WHERE crn <= 1),
      |icand AS (SELECT b.qid, a.vec_id FROM ibest b JOIN casg a
      |          ON a.cluster = b.cell AND a.vec_id <> b.qid),
      |iad AS (SELECT icand.qid, icand.vec_id,
      |    CAST(SUM(iqd.qdist) AS BIGINT) AS adist
      |  FROM icand JOIN pcodes c ON c.vec_id = icand.vec_id
      |  JOIN iqd ON iqd.qid = icand.qid AND iqd.sub = c.sub
      |    AND iqd.code = c.code
      |  GROUP BY 1, 2),
      |iden AS (SELECT qid, doc_id, den_rnk FROM (
      |  SELECT qid, vec_id AS doc_id,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY adist, vec_id) AS BIGINT) AS den_rnk
      |  FROM iad) t WHERE den_rnk <= $armK)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** Shared by `tfidf_cosine_pairs` and its sharded-build twin
    * `tfidf_cosine_sharded`: the build sharding is a pure physical
    * rewrite, so one oracle text serves both — the gate's hash compare
    * is the equivalence proof. */
  private def tfidfCosineSqlOver(src: String, prelude: String = ""): String =
    s"""WITH ${prelude}tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM $src),
      |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |       FROM tok GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM $src),
      |v AS (
      |  SELECT tf.doc_id, tf.token, tf.tf * ((n.total * 100) // df.df) AS wq,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * ((n.total * 100) // df.df) DESC, tf.token) AS rnk
      |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
      |vk AS (SELECT doc_id, token, wq FROM v WHERE rnk <= 10),
      |nrm AS (SELECT doc_id, SUM(wq * wq) AS nrm FROM vk GROUP BY 1),
      |d AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.wq * b.wq) AS dot
      |  FROM vk a JOIN vk b ON a.token = b.token AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d.d1, d.d2,
      |  CAST(d.dot AS DOUBLE)
      |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
      |FROM d JOIN nrm na ON d.d1 = na.doc_id JOIN nrm nb ON d.d2 = nb.doc_id
      |WHERE CAST(d.dot AS DOUBLE)
      |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) >= 0.6
      |ORDER BY d1, d2""".stripMargin

  private val TfidfCosineSql = tfidfCosineSqlOver("documents")

  /** DuckDB replay of [[TextOps.withRunawayFixture]] — 8 body tokens
    * on a 97-residue vocabulary, the ` zhot` runaway on even ids, and
    * the norm-dominating tail token `zt<id % 149>`. */
  private val SqlRunawayFixture: String = {
    val body = TextOps.RunawayBodyMults.zipWithIndex.map { case (m, i) =>
      val sep = if (i == 0) "'zb'" else "' zb'"
      s"$sep || CAST((doc_id * $m) % 97 AS VARCHAR)"
    }.mkString(" || ")
    s"SELECT doc_id, $body" +
      " || CASE WHEN doc_id % 2 = 0 THEN ' zhot' ELSE '' END" +
      " || ' zt' || CAST(doc_id % 149 AS VARCHAR) AS text FROM documents"
  }

  /** `tfidf_cosine_capped_auto_hot` oracle: the UNCAPPED tier over the
    * runaway fixture — the engine side runs the auto-sited capped plan
    * with a structurally non-empty hot set, so the hash match proves
    * zero loss THROUGH the engaged prune (the raw-corpus auto query's
    * p99 lands on the postings max and its hot set is empty). */
  private val TfidfCosineAutoHotSql: String =
    tfidfCosineSqlOver("run", s"run AS ($SqlRunawayFixture), ")

  /** `tfidf_cosine_capped` oracle: the [[TfidfCosineSql]] vector CTEs
    * plus the ceiling — candidates only via tokens with postings ≤
    * [[TfidfDfCeiling]], exact dot/norm completion over full vectors. */
  private val TfidfCosineCappedSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM tok GROUP BY 1, 2),
       |df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       |       FROM tok GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
       |v AS (
       |  SELECT tf.doc_id, tf.token, tf.tf * ((n.total * 100) // df.df) AS wq,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf * ((n.total * 100) // df.df) DESC, tf.token) AS rnk
       |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
       |vk AS (SELECT doc_id, token, wq FROM v WHERE rnk <= 10),
       |nrm AS (SELECT doc_id, SUM(wq * wq) AS nrm FROM vk GROUP BY 1),
       |pc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS pc FROM vk GROUP BY 1),
       |rare AS (SELECT token FROM pc WHERE pc <= $TfidfDfCeiling),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM vk a JOIN rare r ON a.token = r.token
       |  JOIN vk b ON b.token = a.token AND a.doc_id < b.doc_id),
       |d AS (
       |  SELECT c.d1, c.d2, SUM(a.wq * b.wq) AS dot
       |  FROM cand c JOIN vk a ON a.doc_id = c.d1
       |  JOIN vk b ON b.doc_id = c.d2 AND b.token = a.token
       |  GROUP BY 1, 2)
       |SELECT d.d1, d.d2,
       |  CAST(d.dot AS DOUBLE)
       |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) AS cos
       |FROM d JOIN nrm na ON d.d1 = na.doc_id JOIN nrm nb ON d.d2 = nb.doc_id
       |WHERE CAST(d.dot AS DOUBLE)
       |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))) >= 0.6
       |ORDER BY d1, d2""".stripMargin

  /** The self-trained bigram LM in SQL: per-lang bigram and prefix counts
    * and each transition's conditional probability `p(doc_id, pmilli)`
    * in integer milli units (the [[TextOps.lmScore]] model). */
  private val SqlBigramPmilliCtes: String =
    """t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      |b AS (SELECT doc_id, lang,
      |    unnest(list_transform(range(1, greatest(len(toks), 1)),
      |      i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
      |  FROM t),
      |bb AS (SELECT doc_id, lang, bg.w1 AS w1, bg.w2 AS w2 FROM b),
      |cb AS (SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c_big
      |       FROM bb GROUP BY 1, 2, 3),
      |cp AS (SELECT lang, w1, CAST(COUNT(*) AS BIGINT) AS c_pre
      |       FROM bb GROUP BY 1, 2),
      |p AS (SELECT bb.doc_id, (1000 * cb.c_big) // cp.c_pre AS pmilli
      |  FROM bb
      |  JOIN cb ON bb.lang = cb.lang AND bb.w1 = cb.w1 AND bb.w2 = cb.w2
      |  JOIN cp ON bb.lang = cp.lang AND bb.w1 = cp.w1)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("doc_stats", (s, dir) =>
      TextOps.stats(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      s"WITH s AS ($sqlDocStats)\n$sqlStatsSelect ORDER BY doc_id"),
    QuerySpec("doc_quality", (s, dir) =>
      TextOps.qualityScored(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      s"""WITH s AS ($sqlDocStats), t AS ($sqlStatsSelect)
         |SELECT *,
         |  (CASE WHEN chars BETWEEN 100 AND 500 THEN 0.5 ELSE 0.0 END)
         |  + lexical_diversity * 0.3
         |  + (CASE WHEN stopword_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
         |FROM t ORDER BY doc_id""".stripMargin),
    QuerySpec("doc_lang_id", (s, dir) =>
      TextOps.langId(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      s"""WITH sc AS (
         |  SELECT doc_id, lang AS lang_actual,
         |    CAST(${occSql("the")} + ${occSql("a")} + ${occSql("value")} AS BIGINT) AS score_en,
         |    CAST(${occSql("data")} + ${occSql("table")} + ${occSql("row")} AS BIGINT) AS score_es,
         |    CAST(${occSql("batch")} + ${occSql("window")} + ${occSql("merge")} AS BIGINT) AS score_de
         |  FROM documents)
         |SELECT *, CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
         |               WHEN score_es >= score_de THEN 'es' ELSE 'de' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin),
    QuerySpec("doc_token_counts", (s, dir) =>
      TextOps.tokenCounts(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      """SELECT doc_id,
        |  CAST(length(text) - length(translate(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS regex_tokens,
        |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS subword_estimate
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Deterministic md5-based train/val/test assignment.
    QuerySpec("doc_hash_split", (s, dir) =>
      TextOps.hashSplit(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      """SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Deterministic per-language downsampling (rates in 256ths):
    // en 50%, de/fr 25%, everything else 12.5%.
    QuerySpec("doc_stratified_sample", (s, dir) =>
      TextOps.stratifiedSample(Tables.documents(s, dir),
        Map("en" -> 128, "de" -> 64, "fr" -> 64), default256 = 32)
        .orderBy("doc_id"),
      oracle =
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CAST((strpos('0123456789abcdef',
        |            substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef',
        |            substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket,
        |    CAST(CASE lang WHEN 'en' THEN 128 WHEN 'de' THEN 64 WHEN 'fr' THEN 64
        |         ELSE 32 END AS BIGINT) AS rate_256
        |  FROM documents)
        |SELECT doc_id, lang, bucket, rate_256 FROM b
        |WHERE bucket < rate_256 ORDER BY doc_id""".stripMargin),
    // Data-mixing step: rebalance the corpus toward target language
    // shares under a 50%-of-corpus token budget; output = per-lang
    // funnel (tokens, share, integer keep rate, sampled docs/tokens).
    // RAG-style sliding-window chunking (r15): 64-token windows at
    // stride 48 (overlap 16) — row-local explode over a per-doc
    // sequence, shuffle-free at any corpus size; short docs emit one
    // clamped chunk, tails clamp (both arms populate at the verify SF).
    QuerySpec("doc_chunks", (s, dir) =>
      TextOps.chunkDocs(Tables.documents(s, dir), sizeToks = 64,
        strideToks = 48).orderBy("doc_id", "chunk"),
      oracle =
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    CAST(CASE WHEN n <= 64 THEN 1
        |         ELSE (n - 64 + 47) // 48 + 1 END AS BIGINT) AS n_chunks
        |  FROM t),
        |e AS (SELECT doc_id, toks, n,
        |        unnest(range(0, n_chunks)) AS chunk FROM c)
        |SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
        |  CAST(chunk * 48 AS BIGINT) AS start_tok,
        |  CAST(least(64, n - chunk * 48) AS BIGINT) AS n_toks,
        |  array_to_string(toks[CAST(chunk * 48 + 1 AS BIGINT):
        |    CAST(chunk * 48 + 64 AS BIGINT)], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk""".stripMargin),
    // Exact phrase search (r15): order/adjacency-aware retrieval over
    // the shared gram pipeline; overlapping occurrences count (gram
    // semantics, replayed by the oracle's positional self-joins).
    QuerySpec("phrase_search", (s, dir) =>
      TextOps.phraseSearch(Tables.documents(s, dir), PhraseQueries)
        .orderBy("query_id", "doc_id"),
      oracle =
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(toks) AS token,
        |    generate_subscripts(toks, 1) AS pos FROM t),
        |p(query_id, phrase, n) AS (VALUES ('p_batch_batch', 'batch batch', 2), ('p_join_vector', 'join vector', 2), ('p_sort_merge', 'sort merge', 2), ('p_merge_slow_join', 'merge slow join', 3)),
        |g2 AS (
        |  SELECT a.doc_id, a.token || ' ' || b.token AS gram
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
        |g3 AS (
        |  SELECT a.doc_id, a.token || ' ' || b.token || ' ' || c.token AS gram
        |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |             JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |hits AS (
        |  SELECT p.query_id, g.doc_id, COUNT(*) AS h
        |  FROM p JOIN g2 g ON p.n = 2 AND g.gram = p.phrase GROUP BY 1, 2
        |  UNION ALL
        |  SELECT p.query_id, g.doc_id, COUNT(*) AS h
        |  FROM p JOIN g3 g ON p.n = 3 AND g.gram = p.phrase GROUP BY 1, 2)
        |SELECT query_id, doc_id, CAST(h AS BIGINT) AS n_hits
        |FROM hits ORDER BY query_id, doc_id""".stripMargin),
    // Temperature-sampled mixture (r15): T5/PaLM alpha=1/2 weights —
    // sqrt is correctly rounded in both engines and the sqrt is
    // integer-quantized BEFORE the normalizing sum, so the whole chain
    // is order-free integer math the oracle replays exactly.
    QuerySpec("mix_temperature", (s, dir) =>
      TextOps.mixTemperature(Tables.documents(s, dir))
        .orderBy("lang"),
      oracle =
      """WITH t AS (
        |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |bl AS (
        |  SELECT lang, CAST(SUM(toks) AS BIGINT) AS toks_lang,
        |    CAST(FLOOR(sqrt(CAST(SUM(toks) AS DOUBLE)) * 1000) AS BIGINT)
        |      AS sq_milli
        |  FROM t GROUP BY 1),
        |z AS (SELECT CAST(SUM(sq_milli) AS BIGINT) AS z,
        |        CAST(SUM(toks_lang) AS BIGINT) AS toks_total FROM bl)
        |SELECT lang, toks_lang,
        |  (sq_milli * 1000000) // z.z AS weight_ppm,
        |  (((z.toks_total * 50) // 100) * ((sq_milli * 1000000) // z.z))
        |    // 1000000 AS alloc_toks,
        |  ((((z.toks_total * 50) // 100) * ((sq_milli * 1000000) // z.z))
        |    // 1000000 * 1000) // toks_lang AS epochs_milli
        |FROM bl CROSS JOIN z ORDER BY lang""".stripMargin),
    QuerySpec("mix_rebalance", (s, dir) =>
      TextOps.mixRebalance(Tables.documents(s, dir), MixTargets.toMap,
        budgetPct = MixBudgetPct).orderBy("lang"),
      oracle = {
      val cases = MixTargets.map { case (l, p) =>
        s"WHEN '$l' THEN $p" }.mkString(" ")
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST((strpos('0123456789abcdef',
        |            substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef',
        |            substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket,
        |    CAST(CASE lang $cases ELSE 0 END AS BIGINT) AS target_pct
        |  FROM documents),
        |budget AS (
        |  SELECT CAST((SUM(toks) * $MixBudgetPct) // 100 AS BIGINT) AS budget_toks
        |  FROM t),
        |rated AS (
        |  SELECT g.lang, g.toks_lang, g.target_pct,
        |    CAST(least(256, (256 * b.budget_toks * g.target_pct)
        |      // (100 * g.toks_lang)) AS BIGINT) AS rate_256
        |  FROM (SELECT lang, CAST(SUM(toks) AS BIGINT) AS toks_lang,
        |          MAX(target_pct) AS target_pct
        |        FROM t GROUP BY 1) g CROSS JOIN budget b),
        |s AS (
        |  SELECT t.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |    CAST(SUM(t.toks) AS BIGINT) AS toks_sampled
        |  FROM t JOIN rated r ON t.lang = r.lang
        |  WHERE t.bucket < r.rate_256 GROUP BY 1)
        |SELECT r.lang, r.toks_lang, r.target_pct, r.rate_256,
        |  CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
        |  CAST(COALESCE(s.toks_sampled, 0) AS BIGINT) AS toks_sampled
        |FROM rated r LEFT JOIN s ON r.lang = s.lang
        |ORDER BY r.lang""".stripMargin
    }),
    // Domain balancing: keep <= 20 docs per source by salted-md5 rank
    // (WindowGroupLimit prunes map-side); row carries the pre-cap size.
    QuerySpec("source_cap", (s, dir) =>
      TextOps.sourceCap(Tables.documents(s, dir), cap = SourceCapN)
        .orderBy("source", "rn"),
      oracle =
      s"""WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rk
        |  FROM documents),
        |n AS (SELECT doc_id, source, rk,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS BIGINT) AS rn
        |  FROM r),
        |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source
        |      FROM documents GROUP BY 1)
        |SELECT n.doc_id, n.source, n.rk, n.rn, s.n_source
        |FROM n JOIN s USING (source)
        |WHERE n.rn <= $SourceCapN ORDER BY n.source, n.rn""".stripMargin),
    // Self-trained bigram LM score — integer conditional-probability
    // milli units (mean + worst transition), the perplexity filter.
    QuerySpec("doc_lm_score", (s, dir) =>
      TextOps.lmScore(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      s"""WITH $SqlBigramPmilliCtes
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(pmilli) // COUNT(*) AS BIGINT) AS avg_pmilli,
        |  CAST(MIN(pmilli) AS BIGINT) AS min_pmilli
        |FROM p GROUP BY 1 ORDER BY doc_id""".stripMargin),
    // DSIR importance weights: smoothed bigram probability ratio of the
    // curated-source target distribution vs the full corpus (integer
    // milli units, mean + strongest transition per doc).
    QuerySpec("dsir_weights", (s, dir) =>
      TextOps.dsirWeights(Tables.documents(s, dir), DsirTargetSources)
        .orderBy("doc_id"),
      oracle = {
      val tgt = DsirTargetSources.map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (SELECT doc_id,
         |    CASE WHEN source IN ($tgt) THEN 1 ELSE 0 END AS tgt,
         |    string_split(text, ' ') AS toks FROM documents),
         |b AS (SELECT doc_id, tgt,
         |    unnest(list_transform(range(1, greatest(len(toks), 1)),
         |      i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
         |  FROM t),
         |bb AS (SELECT doc_id, tgt, bg.w1 AS w1, bg.w2 AS w2 FROM b),
         |m AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_b,
         |    CAST(SUM(tgt) AS BIGINT) AS c_t FROM bb GROUP BY 1, 2),
         |tot AS (SELECT CAST(SUM(c_b) AS BIGINT) AS n_b,
         |    CAST(SUM(c_t) AS BIGINT) AS n_t,
         |    CAST(COUNT(*) AS BIGINT) AS v FROM m),
         |p AS (SELECT bb.doc_id, bb.tgt,
         |    (1000 * (m.c_t + 1) * (tot.n_b + tot.v))
         |      // ((m.c_b + 1) * (tot.n_t + tot.v)) AS wmilli
         |  FROM bb JOIN m ON bb.w1 = m.w1 AND bb.w2 = m.w2 CROSS JOIN tot)
         |SELECT doc_id, CAST(MAX(tgt) AS BIGINT) AS is_target,
         |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(wmilli) // COUNT(*) AS BIGINT) AS avg_wmilli,
         |  CAST(MAX(wmilli) AS BIGINT) AS max_wmilli
         |FROM p GROUP BY 1 ORDER BY doc_id""".stripMargin
    }),
    // Gopher-style rule filter: four structural signals (integer
    // milli-units) each gated by a threshold, keep = conjunction.
    QuerySpec("gopher_rules", (s, dir) =>
      Curation.gopherRules(Tables.documents(s, dir), Gopher)
        .orderBy("doc_id"),
      oracle = {
      val t = Gopher
      val stop = Curation.GopherStopWords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
         |s AS (SELECT doc_id, lang,
         |    CAST(len(ts) AS BIGINT) AS n_words,
         |    CAST((1000 * list_aggregate(list_transform(ts, w -> len(w)), 'sum')) // len(ts) AS BIGINT) AS mwl_milli,
         |    CAST(len(list_filter(ts, w -> w IN ($stop))) AS BIGINT) AS stop_hits,
         |    CAST((1000 * len(list_distinct(ts))) // len(ts) AS BIGINT) AS distinct_milli
         |  FROM t)
         |SELECT doc_id, lang, n_words, mwl_milli, stop_hits, distinct_milli,
         |  n_words BETWEEN ${t.minWords} AND ${t.maxWords} AS r_words,
         |  mwl_milli BETWEEN ${t.minMwlMilli} AND ${t.maxMwlMilli} AS r_mwl,
         |  stop_hits >= ${t.minStopHits} AS r_stop,
         |  distinct_milli >= ${t.minDistinctMilli} AS r_distinct,
         |  (n_words BETWEEN ${t.minWords} AND ${t.maxWords})
         |    AND (mwl_milli BETWEEN ${t.minMwlMilli} AND ${t.maxMwlMilli})
         |    AND stop_hits >= ${t.minStopHits}
         |    AND distinct_milli >= ${t.minDistinctMilli} AS keep
         |FROM s ORDER BY doc_id""".stripMargin
    }),
    // CCNet-style perplexity buckets: equal-frequency LM-score buckets
    // per language (bucket 1 = head), two-level prefix-sum rank.
    QuerySpec("ppl_buckets", (s, dir) =>
      Curation.pplBuckets(Tables.documents(s, dir), nb = PplBucketsN)
        .orderBy("doc_id"),
      oracle = {
      val nb = PplBucketsN
      s"""WITH $SqlBigramPmilliCtes,
         |score AS (SELECT doc_id,
         |    CAST(SUM(pmilli) // COUNT(*) AS BIGINT) AS avg_pmilli
         |  FROM p GROUP BY 1),
         |j AS (SELECT s.doc_id, d.lang, s.avg_pmilli
         |  FROM score s JOIN documents d USING (doc_id)),
         |r AS (SELECT doc_id, lang, avg_pmilli,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY avg_pmilli, doc_id) AS BIGINT) AS rnk,
         |    CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
         |  FROM j)
         |SELECT doc_id, lang, avg_pmilli, rnk, n_lang,
         |  CAST($nb - ((rnk - 1) * $nb) // n_lang AS BIGINT) AS bucket
         |FROM r ORDER BY doc_id""".stripMargin
    }),
    // Cross-source overlap audit: per-source-pair minhash-estimated
    // shingle Jaccard + the exact validation columns.
    QuerySpec("source_overlap", (s, dir) =>
      Curation.sourceOverlap(Tables.documents(s, dir), m = OverlapM,
        n = OverlapShingle).orderBy("src_a", "src_b"),
      oracle = {
      val (m, n) = (OverlapM, OverlapShingle)
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
         |g0 AS (SELECT source,
         |    CASE WHEN len(ts) < $n THEN [array_to_string(ts, ' ')]
         |    ELSE list_transform(range(0, len(ts) - ${n - 1}),
         |      i -> array_to_string(ts[i+1:i+$n], ' ')) END AS gs
         |  FROM t),
         |g AS (SELECT DISTINCT source, unnest(gs) AS gram FROM g0),
         |gh AS (SELECT source,
         |    CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS gv
         |  FROM g),
         |comp AS (SELECT source, i,
         |    CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || ':' ||
         |      CAST(gv AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM gh CROSS JOIN (SELECT unnest(range(0, $m)) AS i)),
         |sk AS (SELECT source, i, MIN(h) AS minh FROM comp GROUP BY 1, 2),
         |pe AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) AS BIGINT) AS matches
         |  FROM sk a JOIN sk b ON a.i = b.i AND a.source < b.source
         |  GROUP BY 1, 2),
         |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1),
         |iv AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT pe.src_a, pe.src_b, sa.n AS n_a, sb.n AS n_b,
         |  COALESCE(iv.inter, 0) AS inter,
         |  sa.n + sb.n - COALESCE(iv.inter, 0) AS union_n,
         |  CAST((1000 * COALESCE(iv.inter, 0))
         |    // (sa.n + sb.n - COALESCE(iv.inter, 0)) AS BIGINT) AS jaccard_milli,
         |  pe.matches,
         |  CAST((1000 * pe.matches) // $m AS BIGINT) AS est_milli
         |FROM pe JOIN sz sa ON pe.src_a = sa.source
         |JOIN sz sb ON pe.src_b = sb.source
         |LEFT JOIN iv ON pe.src_a = iv.src_a AND pe.src_b = iv.src_b
         |ORDER BY pe.src_a, pe.src_b""".stripMargin
    }),
    // ExactSubstr-style duplicated-span report: 8-token windows shared
    // across >= 2 docs, merged into maximal runs per doc.
    QuerySpec("dedup_substring_spans", (s, dir) =>
      TextOps.substringSpans(Tables.documents(s, dir), n = SpanTokens)
        .orderBy("doc_id"),
      oracle = {
      val n = SpanTokens
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |win AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS sz,
        |    unnest(range(1, greatest(len(toks) - $n + 1, 0) + 1)) AS i, toks
        |  FROM t),
        |g AS (SELECT doc_id, sz, CAST(i - 1 AS BIGINT) AS pos,
        |    array_to_string(toks[i:i+${n - 1}], ' ') AS gram FROM win),
        |d AS (SELECT gram FROM g GROUP BY gram
        |      HAVING COUNT(DISTINCT doc_id) >= 2),
        |f AS (SELECT g.doc_id, g.sz, g.pos FROM g JOIN d USING (gram)),
        |i1 AS (SELECT doc_id, sz, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $n
        |      THEN 1 ELSE 0 END AS brk
        |  FROM f),
        |i2 AS (SELECT doc_id, sz, pos,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM i1),
        |isl AS (SELECT doc_id, island, MAX(sz) AS sz, MIN(pos) AS lo,
        |    MAX(pos) AS hi
        |  FROM i2 GROUP BY 1, 2)
        |SELECT doc_id, CAST(MAX(sz) AS BIGINT) AS tokens,
        |  CAST(COUNT(*) AS BIGINT) AS dup_spans,
        |  CAST(SUM(hi - lo + $n) AS BIGINT) AS dup_tokens,
        |  CAST(SUM(hi - lo + $n) AS DOUBLE) / MAX(sz) AS dup_frac
        |FROM isl GROUP BY 1 ORDER BY doc_id""".stripMargin
    }),
    // ExactSubstr APPLIED: cut every non-canonical occurrence of a
    // duplicated window and emit the surviving text per doc.
    QuerySpec("dedup_spans_rewrite", (s, dir) =>
      TextOps.dedupSpansRewrite(Tables.documents(s, dir), n = SpanTokens)
        .orderBy("doc_id"),
      oracle = {
      val n = SpanTokens
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |win AS (SELECT doc_id, ts,
         |    unnest(range(0, greatest(len(ts) - $n + 1, 0))) AS pos
         |  FROM t),
         |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(ts[pos+1:pos+$n], ' ') AS gram FROM win),
         |d2 AS (SELECT gram FROM g GROUP BY gram
         |       HAVING COUNT(DISTINCT doc_id) >= 2),
         |occ AS (SELECT g.doc_id, g.pos,
         |    row_number() OVER (PARTITION BY g.gram
         |      ORDER BY g.doc_id, g.pos) AS rn
         |  FROM g JOIN d2 USING (gram)),
         |rem AS (SELECT doc_id, pos FROM occ WHERE rn > 1),
         |cov AS (SELECT DISTINCT doc_id, pos + u.u AS cpos
         |  FROM rem CROSS JOIN (SELECT unnest(range(0, $n)) AS u) u),
         |tokrel AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ts[i] AS token
         |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM t)),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.token
         |  FROM tokrel tk LEFT JOIN cov
         |    ON tk.doc_id = cov.doc_id AND tk.pos = cov.cpos
         |  WHERE cov.cpos IS NULL),
         |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS removed_tokens
         |  FROM cov GROUP BY 1),
         |txt AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS text_clean
         |  FROM kept GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS tokens,
         |  COALESCE(cnt.removed_tokens, 0) AS removed_tokens,
         |  COALESCE(txt.text_clean, '') AS text_clean
         |FROM t LEFT JOIN cnt USING (doc_id) LEFT JOIN txt USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin
    }),
    // Leakage-FREE split: content classes take their canonical
    // member's hash split (fixes what split_leakage audits).
    QuerySpec("split_leakfree", (s, dir) =>
      TextOps.leakFreeSplit(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      """WITH a AS (SELECT doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
        |         ELSE 'train' END AS split,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS content_hash
        |  FROM documents),
        |canon AS (SELECT content_hash, MIN(doc_id) AS canon_id
        |  FROM a GROUP BY 1),
        |cs AS (SELECT c.content_hash, c.canon_id, a.split AS split_fixed
        |  FROM canon c JOIN a ON a.doc_id = c.canon_id)
        |SELECT a.doc_id, a.content_hash, a.split AS split_orig,
        |  cs.split_fixed, a.split <> cs.split_fixed AS moved
        |FROM a JOIN cs USING (content_hash)
        |ORDER BY a.doc_id""".stripMargin),
    // Rabin-style content-defined chunking + chunk-level dedup mass.
    QuerySpec("cdc_chunks", (s, dir) =>
      TextOps.cdcChunks(Tables.documents(s, dir), window = CdcWindow,
        maskBits = CdcMaskBits).orderBy("doc_id"),
      oracle = {
      val w = CdcWindow
      val modulus = 1L << CdcMaskBits
      val winFnv = sqlFnvUnsigned(
        s"(CASE WHEN len < $w THEN text ELSE substr(text, i + 1, $w) END)")
      s"""WITH t AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |pos AS (SELECT doc_id, text, len,
        |    unnest(range(0, greatest(len - $w + 1, 1))) AS i FROM t),
        |hh AS (SELECT doc_id, len, i, $winFnv AS hu FROM pos),
        |cuts AS (
        |  SELECT doc_id, i + $w AS cut FROM hh
        |  WHERE ((hu // 281474976710656::HUGEINT) % $modulus) = 0
        |    AND i + $w <= len
        |  UNION
        |  SELECT doc_id, len FROM t),
        |ord AS (SELECT doc_id, cut,
        |    lag(cut, 1, 0) OVER (PARTITION BY doc_id ORDER BY cut) AS prev
        |  FROM cuts),
        |chunk AS (SELECT o.doc_id,
        |    substr(t.text, o.prev + 1, o.cut - o.prev) AS chunk
        |  FROM ord o JOIN t USING (doc_id)),
        |d AS (SELECT chunk FROM chunk GROUP BY chunk
        |      HAVING COUNT(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(length(chunk)) AS BIGINT) AS chars
        |  FROM chunk GROUP BY 1),
        |dup AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS dup_chunks,
        |    CAST(SUM(length(c.chunk)) AS BIGINT) AS dup_chars
        |  FROM chunk c JOIN d USING (chunk) GROUP BY 1)
        |SELECT tot.doc_id, tot.n_chunks, tot.chars,
        |  CAST(COALESCE(dup.dup_chunks, 0) AS BIGINT) AS dup_chunks,
        |  CAST(COALESCE(dup.dup_chars, 0) AS BIGINT) AS dup_chars
        |FROM tot LEFT JOIN dup USING (doc_id) ORDER BY tot.doc_id""".stripMargin
    }),
    // Keep docs at/above their language's median quality (quantized).
    QuerySpec("doc_quality_gate", (s, dir) =>
      TextOps.qualityGate(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      s"""WITH s AS ($sqlDocStats), t AS ($sqlStatsSelect),
         |q AS (
         |  SELECT t.doc_id, d.lang,
         |    CAST(FLOOR(((CASE WHEN chars BETWEEN 100 AND 500 THEN 0.5 ELSE 0.0 END)
         |      + lexical_diversity * 0.3
         |      + (CASE WHEN stopword_ratio < 0.2 THEN 0.2 ELSE 0.0 END)) * 1000) AS BIGINT) AS q
         |  FROM t JOIN documents d ON t.doc_id = d.doc_id),
         |m AS (SELECT lang, CAST(quantile_disc(q, 0.5) AS BIGINT) AS median_q
         |      FROM q GROUP BY 1)
         |SELECT q.doc_id, q.lang, q.q, m.median_q
         |FROM q JOIN m ON q.lang = m.lang
         |WHERE q.q >= m.median_q ORDER BY q.doc_id""".stripMargin),
    // Top-3 salient terms per doc by tf·(N/df) — exact-rounded IEEE
    // division keeps the ranking engine-identical (ln would not be).
    QuerySpec("doc_top_terms", (s, dir) =>
      TextOps.topTerms(Tables.documents(s, dir), k = 3)
        .orderBy("doc_id", "rnk"),
      oracle =
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tok GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM documents),
        |r AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * (CAST(n.total AS DOUBLE) / df.df) AS score,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) * (CAST(n.total AS DOUBLE) / df.df) DESC,
        |               tf.token) AS INT) AS rnk
        |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
        |SELECT doc_id, rnk, token, tf, df, score
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    // Lang-ID confusion matrix (evaluation artifact of doc_lang_id).
    QuerySpec("doc_lang_confusion", (s, dir) =>
      TextOps.langConfusion(Tables.documents(s, dir))
        .orderBy("lang_actual", "lang_pred"),
      oracle =
      s"""WITH sc AS (
         |  SELECT doc_id, lang AS lang_actual,
         |    CAST(${occSql("the")} + ${occSql("a")} + ${occSql("value")} AS BIGINT) AS score_en,
         |    CAST(${occSql("data")} + ${occSql("table")} + ${occSql("row")} AS BIGINT) AS score_es,
         |    CAST(${occSql("batch")} + ${occSql("window")} + ${occSql("merge")} AS BIGINT) AS score_de
         |  FROM documents),
         |p AS (SELECT lang_actual,
         |    CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
         |         WHEN score_es >= score_de THEN 'es' ELSE 'de' END AS lang_pred
         |  FROM sc)
         |SELECT lang_actual, lang_pred, CAST(COUNT(*) AS BIGINT) AS docs
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Per-source bag-duplication rate (crawl-feed quality dashboard).
    QuerySpec("dup_rate_by_source", (s, dir) =>
      TextOps.dupRateBySource(Tables.documents(s, dir)).orderBy("source"),
      oracle =
      """WITH b AS (
        |  SELECT source,
        |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS docs,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_bags,
        |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dup_rate
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),
    // Canonical normalization (the pre-hash step of CCNet-style dedup)
    // and exact dedup over the normalized content, with the
    // raw-variants audit column showing what normalization merged.
    QuerySpec("doc_normalized", (s, dir) =>
      TextOps.normalizedDocs(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      s"""SELECT doc_id, $SqlNormText AS text_norm,
         |  md5($SqlNormText) AS norm_hash,
         |  CAST(length($SqlNormText) AS BIGINT) AS n_chars_norm
         |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("dedup_exact_normalized", (s, dir) =>
      TextOps.dedupExactNormalized(Tables.documents(s, dir))
        .orderBy("norm_hash"),
      oracle =
      s"""SELECT md5($SqlNormText) AS norm_hash,
         |  MIN(doc_id) AS keep_id,
         |  CAST(COUNT(*) AS BIGINT) AS group_size,
         |  CAST(COUNT(DISTINCT text) AS BIGINT) AS raw_variants
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // PII scrub trio over the deterministic contact-blob fixture
    // (TextOps.withPiiFixture — the raw corpus carries no digits or @,
    // FIXTURES.md §A, so the residue-keyed blob exercises detect,
    // redact, AND the pii-free arm in one gate; the oracle replays the
    // fixture as a CTE). All three are row-local regex projections —
    // shuffle-free except the tiny by-source rollup.
    QuerySpec("pii_stats", (s, dir) =>
      TextOps.piiStats(TextOps.withPiiFixture(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      oracle =
      s"""WITH pii AS ($SqlPiiFixture)
         |SELECT doc_id,
         |  ${sqlPiiCount(TextOps.PiiEmailRe)} AS n_email,
         |  ${sqlPiiCount(TextOps.PiiIpv4Re)} AS n_ipv4,
         |  ${sqlPiiCount(TextOps.PiiPhoneRe)} AS n_phone,
         |  CAST(${sqlPiiCount(TextOps.PiiEmailRe)}
         |    + ${sqlPiiCount(TextOps.PiiIpv4Re)}
         |    + ${sqlPiiCount(TextOps.PiiPhoneRe)} > 0 AS BIGINT) AS has_pii
         |FROM pii ORDER BY doc_id""".stripMargin),
    QuerySpec("pii_redact", (s, dir) =>
      TextOps.piiRedact(TextOps.withPiiFixture(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      oracle =
      s"""WITH pii AS ($SqlPiiFixture)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextOps.PiiEmailRe}', '<EMAIL>', 'g'),
         |    '${TextOps.PiiIpv4Re}', '<IP>', 'g'),
         |    '${TextOps.PiiPhoneRe}', '<PHONE>', 'g') AS text_clean,
         |  ${sqlPiiCount(TextOps.PiiEmailRe)}
         |    + ${sqlPiiCount(TextOps.PiiIpv4Re)}
         |    + ${sqlPiiCount(TextOps.PiiPhoneRe)} AS n_redactions
         |FROM pii ORDER BY doc_id""".stripMargin),
    QuerySpec("pii_rate_by_source", (s, dir) =>
      TextOps.piiRateBySource(
        TextOps.withPiiFixture(Tables.documents(s, dir)))
        .orderBy("source"),
      oracle =
      s"""WITH pii AS ($SqlPiiFixture), c AS (
         |  SELECT source,
         |    ${sqlPiiCount(TextOps.PiiEmailRe)} AS ne,
         |    ${sqlPiiCount(TextOps.PiiIpv4Re)} AS ni,
         |    ${sqlPiiCount(TextOps.PiiPhoneRe)} AS np
         |  FROM pii)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(SUM(CAST(ne + ni + np > 0 AS BIGINT)) AS BIGINT) AS docs_with_pii,
         |  CAST(SUM(ne) AS BIGINT) AS emails,
         |  CAST(SUM(ni) AS BIGINT) AS ipv4s,
         |  CAST(SUM(np) AS BIGINT) AS phones
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),
    // Boilerplate strip over the markup fixture (even doc_ids wrapped
    // in an HTML shell, odd plain — both arms gate).
    QuerySpec("doc_markup_strip", (s, dir) =>
      TextOps.markupStrip(TextOps.withMarkupFixture(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      oracle =
      s"""WITH m AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0
         |    THEN '<html><body><p class=x>' || text ||
         |         '</p><!-- note --></body></html>'
         |    ELSE text END AS text FROM documents)
         |SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(text,
         |    '${TextOps.MarkupTagRe}', ' ', 'g'), ' +', ' ', 'g'))
         |    AS text_plain,
         |  CAST(len(regexp_extract_all(text, '${TextOps.MarkupTagRe}'))
         |    AS BIGINT) AS n_tags,
         |  CAST(length(trim(regexp_replace(regexp_replace(text,
         |    '${TextOps.MarkupTagRe}', ' ', 'g'), ' +', ' ', 'g')))
         |    AS BIGINT) AS n_chars_plain
         |FROM m ORDER BY doc_id""".stripMargin),
    QuerySpec("doc_fingerprint", (s, dir) =>
      TextOps.fingerprints(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      """SELECT doc_id, md5(text) AS exact_fp,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Rolling-hash fingerprint on the native fnv64 Expression; the SQL
    // oracle reproduces FNV-1a's wrapping multiply in HUGEINT mod 2^64.
    QuerySpec("doc_fingerprint_rolling", (s, dir) =>
      TextOps.rollingFingerprints(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, text, list_transform(range(1, greatest(len(toks)-2, 1)+1),
         |         i -> array_to_string(toks[i:i+2], ' ')) AS shingles FROM t)
         |SELECT doc_id,
         |  ${sqlToSigned(sqlFnvUnsigned("text"))} AS full_fnv,
         |  list_aggregate(list_transform(shingles, s -> ${sqlToSigned(sqlFnvUnsigned("s"))}), 'min')
         |    AS min_shingle_fnv,
         |  CAST(len(shingles) AS BIGINT) AS n_shingles
         |FROM sh ORDER BY doc_id""".stripMargin),
    // Full winnowing fingerprint SET (SIGMOD'03) — windowed minima over
    // positional char-12-gram hashes via the native O(G) deque kernel;
    // any shared substring of length ≥ 19 must surface a shared fp.
    QuerySpec("doc_winnow", (s, dir) =>
      TextOps.winnowFingerprints(Tables.documents(s, dir))
        .orderBy("doc_id", "fp"),
      oracle = {
      // same char-12-gram FNV → 40-bit ids as the minhash-shingle oracle;
      // naive windowed list_min over clamped slices (W = max(G−8+1, 1))
      // reproduces the deque kernel's minima exactly
      val winFnv40 =
        s"CAST(${sqlFnvUnsigned("substr(text, i, 12)")} % 1099511627776::HUGEINT AS BIGINT)"
      s"""WITH g AS (
         |  SELECT doc_id, list_transform(
         |    range(1, greatest(length(text) - 11, 1) + 1),
         |    i -> $winFnv40) AS hs
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(hs) - 7, 1) + 1),
         |    i -> list_min(hs[i:i+7]))) AS fps
         |  FROM g)
         |SELECT doc_id, unnest(fps) AS fp FROM m ORDER BY doc_id, fp""".stripMargin
    }),
    // MOSS-style copy-detection pairs on the winnowed samples: shared
    // discriminative (df ≤ 50) fingerprints, ≥ 2 to pair.
    QuerySpec("dedup_winnow_pairs", (s, dir) =>
      TextOps.winnowPairs(Tables.documents(s, dir), dfCap = 50)
        .orderBy("d1", "d2"),
      oracle = {
      val winFnv40 =
        s"CAST(${sqlFnvUnsigned("substr(text, i, 12)")} % 1099511627776::HUGEINT AS BIGINT)"
      s"""WITH g AS (
         |  SELECT doc_id, list_transform(
         |    range(1, greatest(length(text) - 11, 1) + 1),
         |    i -> $winFnv40) AS hs
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(len(hs) - 7, 1) + 1),
         |    i -> list_min(hs[i:i+7])))) AS fp
         |  FROM g),
         |rare AS (
         |  SELECT doc_id, fp FROM m
         |  WHERE fp IN (SELECT fp FROM m GROUP BY fp HAVING COUNT(*) <= 50))
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(COUNT(*) AS BIGINT) AS shared_fps
         |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING COUNT(*) >= 2
         |ORDER BY d1, d2""".stripMargin
    }),
    // sparse tf·idf cosine ≥ 0.6 over top-10 salient-term integer
    // vectors — the embedding-free text-similarity tier.
    QuerySpec("tfidf_cosine_pairs", (s, dir) =>
      TextOps.tfidfCosinePairs(Tables.documents(s, dir),
        thresholdHundredths = 60)
        .orderBy("d1", "d2"),
      oracle = TfidfCosineSql),
    // The SHARDED-build continuation of the same operator, declared
    // through the AUTO-SIZING rule (r19, the r18 verdict #6 — was a
    // pinned buildShards = 4): shards = ceil(docs / maxBroadcastDocs),
    // the doc count memoized per session. Shards bound the per-shard
    // broadcast, not time: their joined rows union into ONE (d1, d2)
    // aggregation (see TextOps.tfidfCosinePairs). The fixture corpus
    // (5k docs) merits the single-broadcast plan; a >10⁷-doc corpus
    // engages disjoint doc_id-hash shards from the SAME declaration. The budget is spelled out here so the
    // declaration documents the rule it runs. Multi-shard ≡ single-
    // broadcast stays CI-pinned: PipelineOpsSpec proves sharded-vs-
    // single equality and forced-small-budget engagement, PlanAuditSpec
    // audits the 4-shard plan shape at the operator altitude, and the
    // shared uncapped oracle re-proves the auto rule's output each
    // round. Declaring it runs the doc-count job once per session
    // (PlanAuditSpec's declaration census lists it); Bench's min-of-k
    // drops that first repetition.
    QuerySpec("tfidf_cosine_sharded", (s, dir) =>
      tfidfCosineSharded(Tables.documents(s, dir)).orderBy("d1", "d2"),
      // sharded build plan, identical semantics — same oracle text
      oracle = TfidfCosineSql),
    // The mass-CAPPED tier (r13): candidates generate only through
    // salient tokens with <= maxPostings salient postings, dots/norms
    // complete exactly over full vectors — mass <= D·k·N by algebra,
    // the heavy-tail-proof shape. D=180 bites at the verify SF
    // (postings p90 = 209): the oracle pins the capped SEMANTICS
    // (drops the 7 hottest-term-only pairs of 2081), not an
    // accidental equality with the uncapped tier.
    QuerySpec("tfidf_cosine_capped", (s, dir) =>
      TextOps.tfidfCosinePairsCapped(Tables.documents(s, dir),
        maxPostings = TfidfDfCeiling)
        .orderBy("d1", "d2"),
      oracle = TfidfCosineCappedSql),
    // The AUTO-SITED capped tier (r14): maxPostings = 0 derives the
    // ceiling from the corpus as the salient-postings p99 — the r13
    // siting rule shipped as the default instead of scaladoc. Declared
    // against the UNCAPPED tier's oracle: above the healthy tail no
    // truth pair is hot-only, so the hash match IS the zero-loss-at-
    // the-auto-ceiling proof (the tfidf_cosine_sharded rule).
    QuerySpec("tfidf_cosine_capped_auto", (s, dir) =>
      TextOps.tfidfCosinePairsCapped(Tables.documents(s, dir))
        .orderBy("d1", "d2"),
      // the auto-sited ceiling (salient-postings p99) drops NO pair at
      // the verify SF — the uncapped oracle is the zero-loss proof
      oracle = TfidfCosineSql),
    // The auto tier with the prune ENGAGED (r14 verdict #1): on the
    // raw corpus the salient p99 lands on the postings max, so the
    // auto query above runs with an empty hot set — its hash match
    // proves the capped plan, not the auto-sited prune. The runaway
    // fixture (TextOps.withRunawayFixture) makes the hot set
    // structurally non-empty (` zhot` is salient in N/2 docs, the p99
    // of a 247-token vocabulary cannot reach it) while every truth
    // pair still generates through the sub-ceiling tail token, so
    // declaring against the UNCAPPED oracle proves zero loss through
    // the engaged prune. PipelineOpsSpec pins hot-set non-emptiness.
    QuerySpec("tfidf_cosine_capped_auto_hot", (s, dir) =>
      TextOps.tfidfCosinePairsCapped(
        TextOps.withRunawayFixture(Tables.documents(s, dir)))
        .orderBy("d1", "d2"),
      oracle = TfidfCosineAutoHotSql),
    // GPT-style concat-and-chunk packing per language stream: 4096-token
    // cuts, per-chunk occupancy + boundary-straddler counts.
    // shardDocs sized for the test SF so the two-level prefix sum
    // actually runs multi-shard (the knob tracks corpus scale:
    // shards ≈ N/shardDocs should stay metadata-sized).
    QuerySpec("pack_chunks", (s, dir) =>
      TextOps.packChunks(Tables.documents(s, dir), budgetTokens = 4096L,
        shardDocs = 64L)
        .orderBy("lang", "chunk"),
      oracle =
      """WITH t AS (
        |  SELECT lang, doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, doc_id, tokens,
        |    SUM(tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS end_cum
        |  FROM t),
        |a AS (
        |  SELECT lang, tokens,
        |    (end_cum - tokens) // 4096 AS chunk,
        |    CASE WHEN (end_cum - 1) // 4096 <> (end_cum - tokens) // 4096
        |         THEN 1 ELSE 0 END AS straddles
        |  FROM c)
        |SELECT lang, CAST(chunk AS BIGINT) AS chunk,
        |  CAST(COUNT(*) AS BIGINT) AS docs,
        |  CAST(SUM(tokens) AS BIGINT) AS tokens,
        |  CAST(SUM(straddles) AS BIGINT) AS straddlers
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Gopher-style repetition filters: per (doc, gram order n∈{1,2,3}),
    // top-gram and duplicated-gram occurrence fractions.
    QuerySpec("doc_repetition", (s, dir) =>
      TextOps.repetitionSignals(Tables.documents(s, dir)).orderBy("doc_id", "n"),
      oracle =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, CAST(1 AS INT) AS n, unnest(toks) AS gram FROM t
        |  UNION ALL
        |  SELECT doc_id, CAST(2 AS INT), unnest(list_transform(range(1, greatest(len(toks)-1, 1)+1),
        |    i -> array_to_string(toks[i:i+1], ' '))) FROM t
        |  UNION ALL
        |  SELECT doc_id, CAST(3 AS INT), unnest(list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |    i -> array_to_string(toks[i:i+2], ' '))) FROM t),
        |c AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM g GROUP BY 1, 2, 3)
        |SELECT doc_id, n,
        |  CAST(SUM(cnt) AS BIGINT) AS grams,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_grams,
        |  CAST(MAX(cnt) AS BIGINT) AS top_cnt,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_grams,
        |  CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS top_frac,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(cnt) AS BIGINT) AS dup_frac
        |FROM c GROUP BY 1, 2 ORDER BY doc_id, n""".stripMargin),
    // GPT-3-style decontamination: train-split docs sharing a distinct
    // 5-gram with the eval (test) split; eval gram set broadcasts.
    QuerySpec("contamination_hits", (s, dir) =>
      TextOps.contaminationHits(Tables.documents(s, dir))
        .orderBy("doc_id"),
      oracle =
      """WITH t AS (SELECT doc_id,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
        |    string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, h,
        |    unnest(list_distinct(list_transform(range(1, greatest(len(toks)-4, 1)+1),
        |      i -> array_to_string(toks[i:i+4], ' ')))) AS gram FROM t),
        |ev AS (SELECT DISTINCT gram FROM g WHERE h IN ('0','1')),
        |tr AS (SELECT doc_id, gram FROM g WHERE h NOT IN ('0','1','2','3')),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS doc_grams
        |        FROM tr GROUP BY 1),
        |hits AS (SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS eval_hits
        |         FROM tr JOIN ev USING (gram) GROUP BY 1)
        |SELECT hits.doc_id, tot.doc_grams, hits.eval_hits,
        |  CAST(hits.eval_hits AS DOUBLE) / tot.doc_grams AS hit_frac
        |FROM hits JOIN tot USING (doc_id) ORDER BY doc_id""".stripMargin),
    // Corpus-level top-50 trigrams (n-gram LM table) — global top-k via
    // TakeOrderedAndProject, total order so the cut is deterministic.
    QuerySpec("corpus_ngrams", (s, dir) =>
      TextOps.corpusNgrams(Tables.documents(s, dir), n = 3, k = 50),
      oracle =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS gram FROM t)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS occurrences,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs
        |FROM g GROUP BY 1
        |ORDER BY occurrences DESC, gram LIMIT 50""".stripMargin),
    // Per-doc trigram novelty: ppm of gram occurrences no other doc
    // carries — low marks boilerplate/template mass.
    QuerySpec("doc_novelty", (s, dir) =>
      TextOps.docNovelty(Tables.documents(s, dir))
        .orderBy("doc_id"),
      oracle =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(toks)-2, 1)+1),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS gram FROM t),
        |pd AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM g GROUP BY 1, 2),
        |d AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM pd GROUP BY 1)
        |SELECT pd.doc_id, CAST(SUM(pd.c) AS BIGINT) AS grams,
        |  CAST(SUM(CASE WHEN d.df = 1 THEN pd.c ELSE 0 END) AS BIGINT) AS unique_grams,
        |  CAST(SUM(CASE WHEN d.df = 1 THEN pd.c ELSE 0 END) * 1000000
        |    // SUM(pd.c) AS BIGINT) AS novelty_ppm
        |FROM pd JOIN d USING (gram) GROUP BY 1 ORDER BY doc_id""".stripMargin),
    // c-TF-IDF keywords: the top-5 tokens distinguishing each source
    // (integer idf ratio, so both engines score identically).
    QuerySpec("ctfidf_keywords", (s, dir) =>
      TextOps.ctfidfKeywords(Tables.documents(s, dir), k = 5)
        .orderBy("source", "rnk"),
      oracle =
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tf AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df_sources
        |      FROM tf GROUP BY 1),
        |s AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS s_total
        |      FROM documents),
        |v AS (SELECT tf.source, tf.token, tf.tf,
        |    CAST(s.s_total * 1000000 // d.df_sources AS BIGINT) AS idf_ppm
        |  FROM tf JOIN d USING (token) CROSS JOIN s),
        |r AS (SELECT *, tf * idf_ppm AS score,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY tf * idf_ppm DESC, token) AS rnk
        |  FROM v)
        |SELECT source, token, tf, idf_ppm, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin),
    // Exact-quota reservoir: first-n-by-salted-md5 per language
    // (en 60, de/fr 25 each, others 10) — WindowGroupLimit prunes
    // map-side, the corpus never fully sorts.
    QuerySpec("doc_reservoir", (s, dir) =>
      TextOps.reservoirSample(Tables.documents(s, dir),
        Map("en" -> 60, "de" -> 25, "fr" -> 25), default = 10)
        .orderBy("lang", "rn"),
      oracle =
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5('resv:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rk,
        |    CAST(CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 25 WHEN 'fr' THEN 25
        |         ELSE 10 END AS BIGINT) AS quota
        |  FROM documents),
        |n AS (SELECT doc_id, lang, rk, quota,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS BIGINT) AS rn
        |  FROM r)
        |SELECT doc_id, lang, rk, rn FROM n
        |WHERE rn <= quota ORDER BY lang, rn""".stripMargin),
    // Postings-list build: df + first-20 sorted doc ids per token.
    QuerySpec("inverted_index", (s, dir) =>
      TextOps.invertedIndex(Tables.documents(s, dir), maxPostings = 20)
        .orderBy("token"),
      oracle =
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
        |FROM tok GROUP BY 1 ORDER BY token""".stripMargin),
    // Ranked retrieval: BM25 top-20 per fixed query, integer-quantized
    // idf×saturation contributions so the score is an exact bigint.
    QuerySpec("bm25_topk", (s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), Bm25Queries, Bm25K)
        .orderBy("query_id", "rnk"),
      oracle = {
      val values = Bm25Queries.flatMap { case (qid, ts) =>
        ts.map(t => s"('$qid', '$t')") }.mkString(", ")
      s"""WITH q(query_id, token) AS (VALUES $values),
        |base AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM base GROUP BY 1, 2),
        |dfreq AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM base GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |scored AS (
        |  SELECT q.query_id, tf.doc_id,
        |    CAST(SUM(CAST(floor(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * 10000) AS BIGINT)
        |      * CAST(floor((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) * 10000) AS BIGINT)) AS BIGINT) AS score
        |  FROM tf JOIN q ON tf.token = q.token
        |    JOIN dfreq d ON tf.token = d.token
        |    JOIN dl l ON tf.doc_id = l.doc_id
        |    CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, score, rnk FROM (
        |  SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
        |  FROM scored) r
        |WHERE rnk <= $Bm25K
        |ORDER BY query_id, rnk""".stripMargin
    }),
    // Passage-level BM25 (r16): the chunk relation (row-local explode)
    // feeds the exact bm25TopK pipeline under a packed passage key —
    // dl/avgdl normalize at passage length, the RAG serving
    // granularity. Same query set as bm25_topk, k=10, 32/24 chunking.
    QuerySpec("bm25_passages", (s, dir) =>
      TextOps.bm25Passages(Tables.documents(s, dir), Bm25Queries,
          k = PassageK)
        .orderBy("query_id", "rnk"),
      // the chunk CTE replays doc_chunks' integer arithmetic at 32/24,
      // then the bm25_topk scoring replays over passages under the
      // packed pid = doc_id*100000 + chunk key, unpacked in the output
      oracle = {
      val values = Bm25Queries.flatMap { case (qid, ts) =>
        ts.map(t => s"('$qid', '$t')") }.mkString(", ")
      s"""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    CAST(CASE WHEN n <= 32 THEN 1
        |         ELSE (n - 32 + 23) // 24 + 1 END AS BIGINT) AS n_chunks
        |  FROM t),
        |e AS (SELECT doc_id, toks, n,
        |        unnest(range(0, n_chunks)) AS chunk FROM c),
        |ch AS (SELECT doc_id * 100000 + CAST(chunk AS BIGINT) AS pid,
        |  array_to_string(toks[CAST(chunk * 24 + 1 AS BIGINT):
        |    CAST(chunk * 24 + 32 AS BIGINT)], ' ') AS text
        |FROM e),
        |q(query_id, token) AS (VALUES $values),
        |base AS (SELECT pid, unnest(string_split(text, ' ')) AS token
        |  FROM ch),
        |tf AS (SELECT pid, token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM base GROUP BY 1, 2),
        |dfreq AS (SELECT token, CAST(COUNT(DISTINCT pid) AS BIGINT) AS df
        |  FROM base GROUP BY 1),
        |dl AS (SELECT pid, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM ch),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM dl),
        |scored AS (
        |  SELECT q.query_id, tf.pid,
        |    CAST(SUM(CAST(floor(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * 10000) AS BIGINT)
        |      * CAST(floor((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) * 10000) AS BIGINT)) AS BIGINT) AS score
        |  FROM tf JOIN q ON tf.token = q.token
        |    JOIN dfreq d ON tf.token = d.token
        |    JOIN dl l ON tf.pid = l.pid
        |    CROSS JOIN stats s
        |  GROUP BY 1, 2)
        |SELECT query_id, CAST(pid // 100000 AS BIGINT) AS doc_id,
        |  CAST(pid % 100000 AS BIGINT) AS chunk, score, rnk FROM (
        |  SELECT query_id, pid, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, pid) AS BIGINT) AS rnk
        |  FROM scored) r
        |WHERE rnk <= $PassageK
        |ORDER BY query_id, rnk""".stripMargin
    }),
    // Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    // (r16): BM25 doc-as-query arm + quantized brute-cosine arm, each
    // cut to kArm, fused by integer floor(1e6/(60+rank)) sums — rank
    // is the only unit the arms share, and the fusion join is
    // corpus-size-independent (≤ 2·kArm rows per query). Both arm
    // ranks ship as audit columns (NULL = arm didn't surface it).
    QuerySpec("hybrid_rrf", (s, dir) =>
      TextOps.hybridRrfTopK(Tables.documents(s, dir),
          Tables.embeddings(s, dir), numQueries = HybridProbes,
          kArm = HybridArmK, k = HybridK)
        .orderBy("query_id", "rnk"),
      // both arms replay their proven oracles (bm25_topk's quantized
      // scoring with the probe docs' distinct tokens as query terms;
      // knn_brute_force's quantized dot), then the fusion is exact
      // integer arithmetic: floor(1e6/(60+rank)) per arm, BIGINT sum
      oracle =
      s"""WITH ${sqlHybridArms(HybridArmK)},
        |fused AS (
        |  SELECT COALESCE(l.qid, d.qid) AS query_id,
        |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |    COALESCE(CAST(floor(1000000.0 / (60 + l.lex_rnk)) AS BIGINT), 0)
        |      + COALESCE(CAST(floor(1000000.0 / (60 + d.den_rnk)) AS BIGINT), 0) AS rrf_micro,
        |    l.lex_rnk, d.den_rnk
        |  FROM lex l FULL OUTER JOIN den d
        |    ON l.qid = d.qid AND l.doc_id = d.doc_id)
        |SELECT query_id, doc_id, rrf_micro, lex_rnk, den_rnk, rnk FROM (
        |  SELECT query_id, doc_id, rrf_micro, lex_rnk, den_rnk,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rnk
        |  FROM fused) f
        |WHERE rnk <= $HybridK ORDER BY query_id, rnk""".stripMargin),
    // Hybrid RRF served from the PERSISTED indexes (r17, the r16
    // verdict #2): dense arm = the IVF-PQ index serve (the
    // ann_ivf_pq_indexed relation at armK depth), lexical arm = BM25
    // over the persisted tf-postings index — NEITHER arm scans the
    // corpus; the fusion is the shared integer RRF unchanged. The
    // oracle replays the lexical scan arm (serve == scan is the index
    // contract) and the IVF-PQ training chain, so the hash proves the
    // whole served fusion end-to-end.
    QuerySpec("hybrid_rrf_indexed", (s, dir) =>
      TextOps.hybridRrfTopKIndexed(s,
          Tables.embeddings(s, dir).filter(col("vec_id") < HybridProbes),
          lexIndexFor(s, dir), pqIndexFor(s, dir),
          numQueries = HybridProbes, kArm = HybridArmK, k = HybridK,
          m = PqM)
        .orderBy("query_id", "rnk"),
      // the INDEX-SERVED fusion: the lexical arm replays the scan arm's
      // SQL (serve == scan is the persisted index's contract — the hash
      // gate proves it THROUGH the fusion), the dense arm replays the
      // IVF-PQ training + probe + ADC chain at armK depth (the
      // ann_ivf_pq_indexed oracle's chain, i-prefixed), and the fusion
      // is the same exact integer arithmetic
      oracle =
      s"""WITH $SqlQv,
        |${sqlLexArmCtes(HybridArmK)},
        |${sqlIvfPqArmCtes(HybridProbes, HybridArmK)},
        |fused AS (
        |  SELECT COALESCE(l.qid, d.qid) AS query_id,
        |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |    COALESCE(CAST(floor(1000000.0 / (60 + l.lex_rnk)) AS BIGINT), 0)
        |      + COALESCE(CAST(floor(1000000.0 / (60 + d.den_rnk)) AS BIGINT), 0) AS rrf_micro,
        |    l.lex_rnk, d.den_rnk
        |  FROM lex l FULL OUTER JOIN iden d
        |    ON l.qid = d.qid AND l.doc_id = d.doc_id)
        |SELECT query_id, doc_id, rrf_micro, lex_rnk, den_rnk, rnk FROM (
        |  SELECT query_id, doc_id, rrf_micro, lex_rnk, den_rnk,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rnk
        |  FROM fused) f
        |WHERE rnk <= $HybridK ORDER BY query_id, rnk""".stripMargin),
    // The lexical index serve STANDALONE (r17): doc-as-query BM25
    // answered entirely from the persisted tf-postings index — probe
    // terms, df, dl, stats all read from index relations, the probe
    // vocabulary pushed into the postings scan as a literal In filter.
    // The oracle is the SCAN arm's SQL: serve ≡ scan is the index
    // contract, here priced (and hash-proven) outside the fusion too.
    QuerySpec("bm25_indexed", (s, dir) =>
      TextOps.bm25DocAsQueryFromIndex(s, lexIndexFor(s, dir),
          numQueries = HybridProbes, k = HybridArmK)
        .orderBy("qid", "lex_rnk"),
      // the lexical index serve standalone: the oracle IS the scan
      // arm's chain — the hash match proves serve ≡ scan directly
      oracle =
      s"""WITH ${sqlLexArmCtes(HybridArmK)}
        |SELECT qid, doc_id, lex_rnk FROM lex
        |ORDER BY qid, lex_rnk""".stripMargin),
    // Hybrid recall audit (r16): recall@k of the fused tier AND both
    // arms against exact-cosine truth — whether RRF helps on a given
    // corpus is a computed number (the annRecallAudit pattern applied
    // to fusion; on this synthetic corpus text and embeddings are
    // independent, so the audit SHOWS the lexical arm diluting dense
    // recall — the measurement a deployment makes before fusing).
    // r17: a fourth `hybrid_indexed` tier row audits the INDEX-SERVED
    // fusion against the same exact-cosine truth — the served tier's
    // quality is a measured number beside the scan tiers', not an
    // assumed equality (the dense arm is ADC-approximate, so the
    // indexed fusion CAN differ from the scan fusion; this row prices
    // by how much).
    QuerySpec("hybrid_recall", (s, dir) =>
      TextOps.hybridRecallAudit(Tables.documents(s, dir),
          Tables.embeddings(s, dir), numQueries = HybridProbes,
          kArm = HybridArmK, k = HybridK,
          extraTiers = Seq("hybrid_indexed" ->
            TextOps.hybridRrfTopKIndexed(s,
                Tables.embeddings(s, dir)
                  .filter(col("vec_id") < HybridProbes),
                lexIndexFor(s, dir), pqIndexFor(s, dir),
                numQueries = HybridProbes, kArm = HybridArmK,
                k = HybridK, m = PqM)
              .select(col("query_id").as("qid"), col("doc_id"))))
        .orderBy("query_id", "tier"),
      // truth = exact quantized cosine (the ann_recall spelling); the
      // arms replay sqlHybridArms at the served armK, tighter tier cuts
      // are prefix filters on the same total order, and recall_milli is
      // the integer 1000·hits // k; the r17 hybrid_indexed tier fuses
      // the lex arm with the IVF-PQ chain's iden arm the same way
      oracle =
      s"""WITH $SqlQv,
        |${sqlHybridArms(HybridArmK)},
        |fused AS (
        |  SELECT COALESCE(l.qid, d.qid) AS qid,
        |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |    COALESCE(CAST(floor(1000000.0 / (60 + l.lex_rnk)) AS BIGINT), 0)
        |      + COALESCE(CAST(floor(1000000.0 / (60 + d.den_rnk)) AS BIGINT), 0) AS rrf_micro
        |  FROM lex l FULL OUTER JOIN den d
        |    ON l.qid = d.qid AND l.doc_id = d.doc_id),
        |hyb AS (SELECT qid, doc_id FROM (
        |  SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY rrf_micro DESC, doc_id) AS rnk
        |  FROM fused) f WHERE rnk <= $HybridK),
        |tp AS (
        |  SELECT q1.vec_id AS qid, q2.vec_id,
        |    CAST(SUM(q1.q * q2.q) AS BIGINT) AS dot,
        |    CAST(SUM(q1.q * q1.q) AS BIGINT) AS nq,
        |    CAST(SUM(q2.q * q2.q) AS BIGINT) AS ne
        |  FROM qv q1 JOIN qv q2 ON q2.vec_id <> q1.vec_id AND q2.d = q1.d
        |  WHERE q1.vec_id < $HybridProbes
        |  GROUP BY 1, 2),
        |truth AS (SELECT qid, vec_id AS doc_id FROM (
        |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY CAST(dot AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(ne AS DOUBLE))) DESC, vec_id) AS rn
        |    FROM tp) t WHERE rn <= $HybridK),
        |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < $HybridProbes),
        |hitd AS (SELECT d.qid, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM den d JOIN truth t ON d.qid = t.qid AND d.doc_id = t.doc_id
        |  WHERE d.den_rnk <= $HybridK GROUP BY 1),
        |hith AS (SELECT h.qid, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM hyb h JOIN truth t ON h.qid = t.qid AND h.doc_id = t.doc_id
        |  GROUP BY 1),
        |hitl AS (SELECT l.qid, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM lex l JOIN truth t ON l.qid = t.qid AND l.doc_id = t.doc_id
        |  WHERE l.lex_rnk <= $HybridK GROUP BY 1),
        |${sqlIvfPqArmCtes(HybridProbes, HybridArmK)},
        |ifused AS (
        |  SELECT COALESCE(l.qid, d.qid) AS qid,
        |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |    COALESCE(CAST(floor(1000000.0 / (60 + l.lex_rnk)) AS BIGINT), 0)
        |      + COALESCE(CAST(floor(1000000.0 / (60 + d.den_rnk)) AS BIGINT), 0) AS rrf_micro
        |  FROM lex l FULL OUTER JOIN iden d
        |    ON l.qid = d.qid AND l.doc_id = d.doc_id),
        |ihyb AS (SELECT qid, doc_id FROM (
        |  SELECT qid, doc_id,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY rrf_micro DESC, doc_id) AS rnk
        |  FROM ifused) f WHERE rnk <= $HybridK),
        |hiti AS (SELECT h.qid, CAST(COUNT(*) AS BIGINT) AS hits
        |  FROM ihyb h JOIN truth t ON h.qid = t.qid AND h.doc_id = t.doc_id
        |  GROUP BY 1)
        |SELECT qid AS query_id, tier, hits, recall_milli FROM (
        |  SELECT qs.qid, 'dense' AS tier,
        |    CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |    CAST(1000 * COALESCE(h.hits, 0) // $HybridK AS BIGINT) AS recall_milli
        |  FROM qs LEFT JOIN hitd h ON qs.qid = h.qid
        |  UNION ALL
        |  SELECT qs.qid, 'hybrid' AS tier,
        |    CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |    CAST(1000 * COALESCE(h.hits, 0) // $HybridK AS BIGINT) AS recall_milli
        |  FROM qs LEFT JOIN hith h ON qs.qid = h.qid
        |  UNION ALL
        |  SELECT qs.qid, 'hybrid_indexed' AS tier,
        |    CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |    CAST(1000 * COALESCE(h.hits, 0) // $HybridK AS BIGINT) AS recall_milli
        |  FROM qs LEFT JOIN hiti h ON qs.qid = h.qid
        |  UNION ALL
        |  SELECT qs.qid, 'lexical' AS tier,
        |    CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
        |    CAST(1000 * COALESCE(h.hits, 0) // $HybridK AS BIGINT) AS recall_milli
        |  FROM qs LEFT JOIN hitl h ON qs.qid = h.qid) u
        |ORDER BY query_id, tier""".stripMargin),
    // Bigram familiarity vs the corpus top-100 table — the
    // integer-exact LM-perplexity filtering proxy.
    QuerySpec("doc_familiarity", (s, dir) =>
      TextOps.bigramFamiliarity(Tables.documents(s, dir), k = 100)
        .orderBy("doc_id"),
      oracle =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks)-1, 1)+1),
        |        i -> array_to_string(toks[i:i+1], ' '))) AS gram FROM t),
        |top AS (SELECT gram FROM (
        |  SELECT gram, COUNT(*) AS occurrences FROM g GROUP BY 1
        |  ORDER BY occurrences DESC, gram LIMIT 100)),
        |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS bigrams FROM g GROUP BY 1),
        |h AS (SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS known_bigrams
        |      FROM g JOIN top USING (gram) GROUP BY 1)
        |SELECT pd.doc_id, pd.bigrams,
        |  CAST(COALESCE(h.known_bigrams, 0) AS BIGINT) AS known_bigrams,
        |  CAST(COALESCE(h.known_bigrams, 0) AS DOUBLE) / pd.bigrams AS familiarity
        |FROM pd LEFT JOIN h ON pd.doc_id = h.doc_id
        |ORDER BY pd.doc_id""".stripMargin),
    // Tokenizer induction: 3 greedy BPE merge rounds → the merge table.
    QuerySpec("bpe_merges", (s, dir) =>
      TextOps.bpeMerges(Tables.documents(s, dir), rounds = 3)
        .orderBy("round"),
      oracle = bpeSql(rounds = 3)),
    // Tokenizer APPLICATION: the induced merges applied to the vocab,
    // per-doc encoded token counts (the token-budget planner's signal).
    QuerySpec("bpe_encode", (s, dir) =>
      TextOps.bpeEncode(Tables.documents(s, dir), rounds = 3)
        .orderBy("doc_id"),
      oracle = bpeEncodeSql(rounds = 3)),
    // Tokenizer fertility: subword tokens per word, per language
    // (integer milli-units over the bpe_encode chain).
    QuerySpec("bpe_fertility", (s, dir) =>
      TextOps.bpeFertility(Tables.documents(s, dir), rounds = 3)
        .orderBy("lang"),
      oracle = bpeFertilitySql(rounds = 3)),
    // Token-balanced shard assignment: serpentine deal over the
    // token-count rank (two-level prefix-sum, no global sort task).
    QuerySpec("shard_balance", (s, dir) =>
      Curation.shardBalance(Tables.documents(s, dir), ShardBalanceN)
        .orderBy("doc_id"),
      oracle = {
      val s2 = 2 * ShardBalanceN
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
         |  FROM documents),
         |r AS (SELECT doc_id, tokens,
         |    CAST(row_number() OVER (ORDER BY tokens DESC, doc_id)
         |      AS BIGINT) AS rnk
         |  FROM t)
         |SELECT doc_id, tokens, rnk,
         |  CAST(CASE WHEN ((rnk - 1) % $s2) < $ShardBalanceN
         |    THEN (rnk - 1) % $s2
         |    ELSE $s2 - 1 - ((rnk - 1) % $s2) END AS BIGINT) AS shard
         |FROM r ORDER BY doc_id""".stripMargin
    }),
    // Train/test leakage audit: duplicate content spanning splits.
    QuerySpec("split_leakage", (s, dir) =>
      TextOps.splitLeakage(Tables.documents(s, dir)).orderBy("content_hash"),
      oracle =
      """WITH s AS (
        |  SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS content_hash,
        |    doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
        |         ELSE 'train' END AS split
        |  FROM documents),
        |g AS (SELECT content_hash, CAST(COUNT(*) AS BIGINT) AS docs,
        |        MIN(doc_id) AS first_doc,
        |        array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
        |      FROM s GROUP BY 1)
        |SELECT content_hash, docs, first_doc, splits FROM g
        |WHERE contains(splits, ',') ORDER BY content_hash""".stripMargin),
    // Zipf rank-frequency table with cumulative-share denominator.
    QuerySpec("token_zipf", (s, dir) =>
      TextOps.tokenZipf(Tables.documents(s, dir)).orderBy("rank"),
      oracle =
      """WITH f AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM
        |    (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM f)
        |SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank,
        |  token, freq, CAST(freq AS DOUBLE) / t.total AS share
        |FROM f CROSS JOIN t ORDER BY rank""".stripMargin),
    // Round-3 capstone composition: per-lang-median quality gate →
    // eval-overlap decontamination → bag-fingerprint dedup (first id
    // wins) → exact-quota reservoir → per-language corpus stats. Every
    // stage is a declared operator; this proves the new tiers compose.
    // Capstone v3 — the round-6 tiers composed as one curation run:
    // per-source frequency cap → bigram-LM gate (keep docs at/above
    // their language's median model score; model trained on the FULL
    // corpus, applied to the capped survivors) → target-mixture
    // rebalance under a 50% token budget. Output = per-lang funnel
    // with the stage counts alongside the mixing rate table.
    // Capstone v4 — the round-7 tiers composed as one curation run
    // that ENDS IN TRAINING SHARDS: Gopher rule gate → ExactSubstr
    // span rewrite (the surviving text is the working text) →
    // leakage-free split on the REWRITTEN content → token-balanced
    // serpentine shards over the train split. Output = the per-shard
    // audit (docs, token mass) a shard writer reports.
    QuerySpec("pipeline_curate_v4", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = Curation.gopherRules(docs, Gopher)
        .filter(col("keep")).select("doc_id")
      val gated = docs.join(kept, "doc_id")
      // the rewrite is consumed twice (split input + train join):
      // materialize once, don't pay the span cascade again
      val rewritten = TextOps.dedupSpansRewrite(gated, n = SpanTokens)
        .filter(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("text"))
        .join(docs.select("doc_id", "lang", "source"), "doc_id")
        .localCheckpoint(eager = false)
      val train = rewritten
        .join(TextOps.leakFreeSplit(rewritten)
          .filter(col("split_fixed") === "train").select("doc_id"), "doc_id")
      Curation.shardBalance(train, ShardBalanceN)
        .groupBy("shard")
        .agg(count(lit(1)).as("docs"), sum("tokens").as("tokens"))
        .orderBy("shard")
    },
      oracle = {
      val t = Gopher
      val stop = Curation.GopherStopWords.map(w => s"'$w'").mkString(", ")
      val n = SpanTokens
      val s2 = 2 * ShardBalanceN
      s"""WITH sig AS (SELECT doc_id, lang, source, text,
         |    string_split(text, ' ') AS ts FROM documents),
         |g0 AS (SELECT doc_id, lang, source, text, ts FROM sig
         |  WHERE CAST(len(ts) AS BIGINT) BETWEEN ${t.minWords} AND ${t.maxWords}
         |    AND (1000 * list_aggregate(list_transform(ts, w -> len(w)), 'sum')) // len(ts)
         |      BETWEEN ${t.minMwlMilli} AND ${t.maxMwlMilli}
         |    AND len(list_filter(ts, w -> w IN ($stop))) >= ${t.minStopHits}
         |    AND (1000 * len(list_distinct(ts))) // len(ts) >= ${t.minDistinctMilli}),
         |win AS (SELECT doc_id, ts,
         |    unnest(range(0, greatest(len(ts) - $n + 1, 0))) AS pos FROM g0),
         |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |    array_to_string(ts[pos+1:pos+$n], ' ') AS gram FROM win),
         |d2 AS (SELECT gram FROM g GROUP BY gram
         |       HAVING COUNT(DISTINCT doc_id) >= 2),
         |occ AS (SELECT g.doc_id, g.pos,
         |    row_number() OVER (PARTITION BY g.gram
         |      ORDER BY g.doc_id, g.pos) AS rn
         |  FROM g JOIN d2 USING (gram)),
         |rem AS (SELECT doc_id, pos FROM occ WHERE rn > 1),
         |cov AS (SELECT DISTINCT doc_id, pos + u.u AS cpos
         |  FROM rem CROSS JOIN (SELECT unnest(range(0, $n)) AS u) u),
         |tokrel AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ts[i] AS token
         |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i FROM g0)),
         |keptt AS (SELECT tk.doc_id, tk.pos, tk.token
         |  FROM tokrel tk LEFT JOIN cov
         |    ON tk.doc_id = cov.doc_id AND tk.pos = cov.cpos
         |  WHERE cov.cpos IS NULL),
         |rew AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS text
         |  FROM keptt GROUP BY 1),
         |lf AS (SELECT r.doc_id, r.text,
         |    CASE WHEN substring(md5(CAST(r.doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
         |         WHEN substring(md5(CAST(r.doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
         |         ELSE 'train' END AS split,
         |    md5(array_to_string(list_sort(list_distinct(string_split(r.text, ' '))), ' ')) AS content_hash
         |  FROM rew r WHERE r.text <> ''),
         |canon AS (SELECT content_hash, MIN(doc_id) AS canon_id
         |  FROM lf GROUP BY 1),
         |cs AS (SELECT c.content_hash, lf.split AS split_fixed
         |  FROM canon c JOIN lf ON lf.doc_id = c.canon_id),
         |train AS (SELECT lf.doc_id,
         |    CAST(len(string_split(lf.text, ' ')) AS BIGINT) AS tokens
         |  FROM lf JOIN cs USING (content_hash)
         |  WHERE cs.split_fixed = 'train'),
         |rk AS (SELECT doc_id, tokens,
         |    CAST(row_number() OVER (ORDER BY tokens DESC, doc_id)
         |      AS BIGINT) AS rnk FROM train),
         |sh AS (SELECT doc_id, tokens,
         |    CAST(CASE WHEN ((rnk - 1) % $s2) < $ShardBalanceN
         |      THEN (rnk - 1) % $s2
         |      ELSE $s2 - 1 - ((rnk - 1) % $s2) END AS BIGINT) AS shard
         |  FROM rk)
         |SELECT shard, CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(SUM(tokens) AS BIGINT) AS tokens
         |FROM sh GROUP BY 1 ORDER BY shard""".stripMargin
    }),
    QuerySpec("pipeline_curate_v3", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val capped = docs.join(
        TextOps.sourceCap(docs, cap = SourceCapN).select("doc_id"), "doc_id")
      val lm = TextOps.lmScore(docs).select("doc_id", "avg_pmilli")
      // scored embeds the LM-score corpus explode and is consumed by
      // the median, the gate, and (via gated) two more sinks —
      // materialize each tier once instead of replaying the chain
      val scored = capped.join(lm, "doc_id").localCheckpoint(eager = false)
      val med = scored.groupBy("lang")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY avg_pmilli)")
          .cast("long").as("med"))
      val gated = scored.join(broadcast(med), "lang")
        .filter(col("avg_pmilli") >= col("med"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(eager = false)
      val cappedCnt = capped.groupBy("lang")
        .agg(count(lit(1)).as("capped_docs"))
      val gatedCnt = gated.groupBy("lang")
        .agg(count(lit(1)).as("gated_docs"))
      TextOps.mixRebalance(gated, MixTargets.toMap, budgetPct = MixBudgetPct)
        .join(cappedCnt, "lang").join(gatedCnt, "lang")
        .select(col("lang"), col("capped_docs"), col("gated_docs"),
          col("toks_lang"), col("target_pct"), col("rate_256"),
          col("n_sampled"), col("toks_sampled"))
        .orderBy("lang")
    },
      oracle = {
      val cases = MixTargets.map { case (l, p) =>
        s"WHEN '$l' THEN $p" }.mkString(" ")
      s"""WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rk
        |  FROM documents),
        |rn1 AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS rn
        |  FROM r),
        |capped AS (SELECT d.* FROM documents d JOIN rn1 USING (doc_id)
        |           WHERE rn1.rn <= $SourceCapN),
        |$SqlBigramPmilliCtes,
        |lm AS (SELECT doc_id, CAST(SUM(pmilli) // COUNT(*) AS BIGINT) AS avg_pmilli
        |       FROM p GROUP BY 1),
        |sc AS (SELECT c.doc_id, c.lang, c.text, lm.avg_pmilli
        |       FROM capped c JOIN lm USING (doc_id)),
        |m AS (SELECT lang, CAST(quantile_disc(avg_pmilli, 0.5) AS BIGINT) AS med
        |      FROM sc GROUP BY 1),
        |gated AS (SELECT sc.doc_id, sc.lang, sc.text FROM sc
        |          JOIN m USING (lang) WHERE sc.avg_pmilli >= m.med),
        |g1 AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    CAST((strpos('0123456789abcdef',
        |            substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef',
        |            substring(md5('mix:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT) AS bucket,
        |    CAST(CASE lang $cases ELSE 0 END AS BIGINT) AS target_pct
        |  FROM gated),
        |budget AS (
        |  SELECT CAST((SUM(toks) * $MixBudgetPct) // 100 AS BIGINT) AS budget_toks
        |  FROM g1),
        |rated AS (
        |  SELECT g.lang, g.toks_lang, g.target_pct,
        |    CAST(least(256, (256 * bu.budget_toks * g.target_pct)
        |      // (100 * g.toks_lang)) AS BIGINT) AS rate_256
        |  FROM (SELECT lang, CAST(SUM(toks) AS BIGINT) AS toks_lang,
        |          MAX(target_pct) AS target_pct
        |        FROM g1 GROUP BY 1) g CROSS JOIN budget bu),
        |smp AS (
        |  SELECT g1.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |    CAST(SUM(g1.toks) AS BIGINT) AS toks_sampled
        |  FROM g1 JOIN rated ra ON g1.lang = ra.lang
        |  WHERE g1.bucket < ra.rate_256 GROUP BY 1),
        |capcnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS capped_docs
        |           FROM capped GROUP BY 1),
        |gatecnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS gated_docs
        |            FROM gated GROUP BY 1)
        |SELECT ra.lang, cc.capped_docs, gc.gated_docs, ra.toks_lang,
        |  ra.target_pct, ra.rate_256,
        |  CAST(COALESCE(smp.n_sampled, 0) AS BIGINT) AS n_sampled,
        |  CAST(COALESCE(smp.toks_sampled, 0) AS BIGINT) AS toks_sampled
        |FROM rated ra
        |JOIN capcnt cc ON ra.lang = cc.lang
        |JOIN gatecnt gc ON ra.lang = gc.lang
        |LEFT JOIN smp ON ra.lang = smp.lang
        |ORDER BY ra.lang""".stripMargin
    }),
    QuerySpec("pipeline_curate_v2", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val gated = TextOps.qualityGate(docs).select("doc_id")
      val contaminated = TextOps.contaminationHits(docs)
        .select("doc_id")
      val clean = docs.join(gated, "doc_id")
        .join(contaminated, Seq("doc_id"), "left_anti")
      val w = Window.partitionBy(TokenSetKernel.bagKey).orderBy(col("doc_id"))
      val deduped = clean.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      TextOps.reservoirSample(deduped, Map("en" -> 40, "de" -> 20),
          default = 15)
        .join(docs.select("doc_id", "text"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text")).cast("long")).as("chars"))
        .orderBy("lang")
    },
      oracle =
      s"""WITH s AS ($sqlDocStats), t AS ($sqlStatsSelect),
         |q AS (
         |  SELECT t.doc_id, d.lang,
         |    CAST(FLOOR(((CASE WHEN chars BETWEEN 100 AND 500 THEN 0.5 ELSE 0.0 END)
         |      + lexical_diversity * 0.3
         |      + (CASE WHEN stopword_ratio < 0.2 THEN 0.2 ELSE 0.0 END)) * 1000) AS BIGINT) AS q
         |  FROM t JOIN documents d ON t.doc_id = d.doc_id),
         |m AS (SELECT lang, CAST(quantile_disc(q, 0.5) AS BIGINT) AS median_q
         |      FROM q GROUP BY 1),
         |gated AS (SELECT q.doc_id FROM q JOIN m ON q.lang = m.lang
         |          WHERE q.q >= m.median_q),
         |gr AS (SELECT doc_id, h,
         |    unnest(list_distinct(list_transform(range(1, greatest(len(toks)-4, 1)+1),
         |      i -> array_to_string(toks[i:i+4], ' ')))) AS gram
         |  FROM (SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
         |          string_split(text, ' ') AS toks FROM documents)),
         |ev AS (SELECT DISTINCT gram FROM gr WHERE h IN ('0','1')),
         |contaminated AS (SELECT DISTINCT gr.doc_id FROM gr JOIN ev USING (gram)
         |                 WHERE gr.h NOT IN ('0','1','2','3')),
         |clean AS (SELECT d.* FROM documents d JOIN gated USING (doc_id)
         |          WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |dd AS (SELECT *, row_number() OVER (
         |    PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         |    ORDER BY doc_id) AS rn FROM clean),
         |deduped AS (SELECT doc_id, lang FROM dd WHERE rn = 1),
         |rsv AS (SELECT doc_id, lang,
         |    CAST(concat('0x', substr(md5('resv:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rk,
         |    CAST(CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 20 ELSE 15 END AS BIGINT) AS quota
         |  FROM deduped),
         |rn2 AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY rk, doc_id) AS rn
         |        FROM rsv),
         |kept AS (SELECT doc_id, lang FROM rn2 WHERE rn <= quota)
         |SELECT k.lang, CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(SUM(length(d.text)) AS BIGINT) AS chars
         |FROM kept k JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Capstone composition — the actual training-data curation pipeline:
    // quality gate → exact dedup (first doc_id wins) → deterministic
    // split → per-split corpus stats. Every stage is an operator
    // declared above; this query proves they compose.
    QuerySpec("pipeline_curate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quality = TextOps.qualityScored(docs)
        .filter(col("quality_score") >= 0.5).select("doc_id")
      val kept = Dedup.exactKept(docs).select("doc_id", "text")
        .join(quality, "doc_id")
      // split is a narrow per-row projection — attach it as a column;
      // a self-join on hashSplit(kept) would execute the whole
      // quality+dedup pipeline twice (no common-subplan elimination)
      val nibble = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
      kept.withColumn("split",
          when(nibble.isin("0", "1"), "test")
            .when(nibble.isin("2", "3"), "val")
            .otherwise("train"))
        .groupBy("split")
        .agg(count(lit(1)).as("docs"),
          sum(length(col("text")).cast("long")).as("chars"))
        .orderBy("split")
    },
      oracle =
      s"""WITH s AS ($sqlDocStats), t AS ($sqlStatsSelect),
         |quality AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      (CASE WHEN chars BETWEEN 100 AND 500 THEN 0.5 ELSE 0.0 END)
         |      + lexical_diversity * 0.3
         |      + (CASE WHEN stopword_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS q
         |    FROM t) x WHERE q >= 0.5),
         |kept AS (
         |  SELECT d.doc_id, d.text FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM documents) d
         |  JOIN quality USING (doc_id) WHERE d.rn = 1),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
         |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
         |         ELSE 'train' END AS split
         |  FROM kept)
         |SELECT sp.split, CAST(COUNT(*) AS BIGINT) AS docs,
         |  CAST(SUM(length(k.text)) AS BIGINT) AS chars
         |FROM kept k JOIN sp USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
