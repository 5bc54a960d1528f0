package graft.queries

import graft.Tables
import graft.ops.{Bpe, Buckets, Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents` / `embeddings`. */
object LlmQueries {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** Whitespace tokenization — ONE definition, kept in lockstep with
    * the oracle-side `regexp_split_to_array(lower(trim(text)), '\s+')`
    * convention used by every SQL mirror in this file.
    */
  private def tokenize(c: Column): Column = split(lower(trim(c)), "\\s+")
  private def embs(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)

  // -- exact dedup ---------------------------------------------------------
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir), "doc_id", "text")
      .select("doc_id", "fp", "group_size", "canonical_id", "is_dup")
      .orderBy("doc_id")

  val dedupExactSql: String =
    """WITH f AS (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
      |g AS (SELECT fp, COUNT(*) AS group_size, MIN(doc_id) AS canonical_id
      |      FROM f GROUP BY fp)
      |SELECT f.doc_id, f.fp, g.group_size, g.canonical_id,
      |  f.doc_id <> g.canonical_id AS is_dup
      |FROM f JOIN g USING (fp) ORDER BY doc_id""".stripMargin

  // -- URL-canonicalization dedup ---------------------------------------------
  /** Common-crawl-style URL dedup: canonicalize each page's URL
    * ([[graft.ops.TextOps.canonicalizeUrl]] — scheme/www/fragment/
    * trailing-slash/tracking-param normalization with sorted surviving
    * params) and collapse pages sharing the canonical key. The synthetic
    * corpus has no URL column, so — like the PII op's injected PII — the
    * query derives a deterministic dirty URL per document (scheme, www,
    * trailing slash, utm/ref noise and a fragment all varying by doc id;
    * the SIGNIFICANT parts are (source, doc_id%40, sometimes id=doc_id%7))
    * and the oracle re-derives both the dirty URL and the
    * canonicalization independently. One hash groupBy on the canonical
    * key — never pairwise, zero-shuffle normalization.
    */
  def dedupUrl(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val dirty = concat(
      when(id % 3 === 0, "https://").otherwise("http://"),
      when(id % 2 === 0, "www.").otherwise(""),
      col("source"), lit(".example.com"),
      lit("/p/"), (id % 40).cast("string"),
      when(id % 6 === 0, "/").otherwise(""),
      when(id % 4 === 1, "?utm_source=rss")
        .when(id % 4 === 2, concat(lit("?id="), (id % 7).cast("string")))
        .when(id % 4 === 3,
          concat(lit("?utm_campaign=x&id="), (id % 7).cast("string"), lit("&ref=tw")))
        .otherwise(""),
      when(id % 5 === 0, "#top").otherwise(""))
    val withUrl = docs(s, dir)
      .withColumn("canonical_url", TextOps.canonicalizeUrl(dirty))
    val groups = withUrl.groupBy("canonical_url")
      .agg(count(lit(1)).as("group_size"), min("doc_id").as("canonical_id"))
    withUrl.select("doc_id", "canonical_url")
      .join(groups, "canonical_url")
      .select(col("doc_id"), col("canonical_url"), col("group_size"),
        col("canonical_id"), (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  val dedupUrlSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
      |    source || '.example.com' || '/p/' || CAST(doc_id % 40 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 4 = 1 THEN '?utm_source=rss'
      |          WHEN doc_id % 4 = 2 THEN '?id=' || CAST(doc_id % 7 AS VARCHAR)
      |          WHEN doc_id % 4 = 3 THEN '?utm_campaign=x&id=' || CAST(doc_id % 7 AS VARCHAR) || '&ref=tw'
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '#top' ELSE '' END) AS url
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(lower(url), '#.*$', ''),
      |      '^https?://', ''), '^www\.', '') AS stripped
      |  FROM u),
      |p AS (
      |  SELECT doc_id,
      |    regexp_replace(split_part(stripped, '?', 1), '/+$', '') AS hostpath,
      |    -- array_to_string([]) is NULL in DuckDB (Spark's array_join gives '')
      |    COALESCE(array_to_string(list_sort(list_filter(string_split(split_part(stripped, '?', 2), '&'),
      |      x -> NOT (x LIKE 'utm_%' OR x LIKE 'ref=%' OR x = ''))), '&'), '') AS qs
      |  FROM c),
      |k AS (
      |  SELECT doc_id,
      |    hostpath || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS canonical_url
      |  FROM p),
      |g AS (SELECT canonical_url, COUNT(*) AS group_size, MIN(doc_id) AS canonical_id
      |      FROM k GROUP BY canonical_url)
      |SELECT k.doc_id, k.canonical_url, g.group_size, g.canonical_id,
      |  k.doc_id <> g.canonical_id AS is_dup
      |FROM k JOIN g USING (canonical_url) ORDER BY doc_id""".stripMargin

  /** Shared oracle scaffolding: DuckDB rebuilds the 3-gram STRING
    * shingle sets (the engine compares FNV64 hash sets — equality
    * proves the hashed representation collision-free here) and computes
    * exact all-pairs Jaccard via the shingle join. At oracle scale
    * (sf0.01) all-pairs is cheap; the ENGINE never does all-pairs — the
    * point of the check is that LSH candidates provably cover every
    * above-threshold pair (P(miss) = (1−J^r)^b ≈ 1e-15 at dup-grade J),
    * so the verified output equals the exhaustive ground truth.
    */
  private val allPairsJaccardCte: String =
    """toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
      |       WHERE len(t) > 3
      |       UNION
      |       SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) <= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_inter
      |          FROM sh a JOIN sh b ON b.s = a.s AND b.doc_id > a.doc_id GROUP BY 1, 2),
      |jac AS (SELECT i.ia AS id_a, i.ib AS id_b, za.n AS n_a, zb.n AS n_b,
      |          CAST(i.n_inter AS BIGINT) AS n_inter,
      |          CAST(i.n_inter AS DOUBLE) / CAST(za.n + zb.n - i.n_inter AS DOUBLE) AS jaccard
      |        FROM inter i JOIN sizes za ON za.doc_id = i.ia
      |        JOIN sizes zb ON zb.doc_id = i.ib)""".stripMargin

  // -- MinHash + LSH + exact-Jaccard verify ----------------------------------
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.verifiedDupPairs(docs(s, dir), "doc_id", "text", threshold = 0.8)
      .orderBy("id_a", "id_b")

  val dedupMinhashLshSql: String =
    s"""WITH $allPairsJaccardCte
      |SELECT id_a, id_b, n_a, n_b, n_inter, jaccard FROM jac
      |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin

  // -- incremental dedup: new batch vs a prebuilt corpus index ---------------
  /** The daily-increment contract: docs with doc_id % 4 = 0 are the NEW
    * batch, the rest are the already-indexed corpus. The index (band
    * frame + shingle frame) is built once from the corpus; the
    * incremental pass finds every verified pair touching the new batch
    * (new-vs-new and new-vs-corpus) WITHOUT re-banding the corpus —
    * corpus-vs-corpus pairs are the previous run's output. The oracle
    * is the exhaustive all-pairs Jaccard filtered to pairs touching a
    * new doc: same recall guarantee as the full pipeline, since the
    * banding is identical.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val newBatch = d.filter(pmod(col("doc_id"), lit(4)) === 0)
    val corpus = d.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val index = Dedup.buildDedupIndex(corpus, "doc_id", "text")
    Dedup.incrementalDupPairs(newBatch, index, "doc_id", "text",
      threshold = 0.8).orderBy("id_a", "id_b")
  }

  val dedupIncrementalSql: String =
    s"""WITH $allPairsJaccardCte
      |SELECT id_a, id_b, n_a, n_b, n_inter, jaccard FROM jac
      |WHERE jaccard >= 0.8 AND (id_a % 4 = 0 OR id_b % 4 = 0)
      |ORDER BY id_a, id_b""".stripMargin

  // -- RefinedWeb-style n-gram coverage dedup ---------------------------------
  /** For every doc: what fraction of its 3-gram shingles already
    * exists elsewhere in the corpus (document frequency > 1)? Catches
    * boilerplate STITCHED from many partial sources, which no pairwise
    * Jaccard gate sees. Two shuffles (shingle df, per-doc re-agg) —
    * never pairwise.
    */
  def dedupNgramCoverage(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramCoverage(docs(s, dir), "doc_id", "text", k = 3, threshold = 0.6)
      .orderBy("doc_id")

  val dedupNgramCoverageSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
      |       WHERE len(t) > 3
      |       UNION
      |       SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) <= 3),
      |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
      |cov AS (
      |  SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |    CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      |  FROM sh JOIN df ON df.s = sh.s GROUP BY sh.doc_id)
      |SELECT doc_id, n_shingles, n_shared,
      |  CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS coverage,
      |  CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) >= 0.6 AS drop_doc
      |FROM cov ORDER BY doc_id""".stripMargin

  // -- repeated-span (substring-level) dedup ----------------------------------
  /** Substring-LEVEL dedup: drop maximal token spans whose every
    * 5-shingle appears in >= 2 documents — the suffix-array scrub of
    * Lee et al. 2022, which catches a boilerplate paragraph pasted
    * mid-document at ANY offset (dedup_lines only sees aligned whole
    * segments). See [[graft.ops.Dedup.scrubRepeatedSpans]]; the engine
    * travels on positional FNV64 shingle hashes, the oracle rebuilds
    * string shingles — equality proves the hashed run collision-free.
    */
  def dedupSubstrings(s: SparkSession, dir: String): DataFrame =
    // fan-out (r15): the positional-shingle and token legs each re-ran
    // the tokenize chain scan-fused and serial; integer span counts.
    Dedup.scrubRepeatedSpans(graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("doc_id", "text")),
      "doc_id", "text", k = 5, minDocs = 2)
      .orderBy("doc_id")

  val dedupSubstringsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i, array_to_string(t[i:i+4], ' ') AS sh
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i)
      |  WHERE len(t) >= 5),
      |shared AS (
      |  SELECT p.doc_id, p.i FROM pos p
      |  JOIN (SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS nd
      |        FROM pos GROUP BY sh) WHERE nd >= 2) f USING (sh)),
      |isl AS (SELECT doc_id, i,
      |  i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS g
      |  FROM shared),
      |sp AS (SELECT doc_id, MIN(i) AS s, MAX(i) + 4 AS e FROM isl
      |       GROUP BY doc_id, g),
      |mk AS (SELECT doc_id, s, e,
      |  CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
      |  THEN 1 ELSE 0 END AS brk FROM sp),
      |mg AS (SELECT doc_id, s, e,
      |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp FROM mk),
      |merged AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM mg
      |           GROUP BY doc_id, grp),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |        CAST(SUM(e - s + 1) AS BIGINT) AS n_removed
      |        FROM merged GROUP BY doc_id),
      |tok1 AS (SELECT doc_id, i, t[i] AS tok FROM toks,
      |         LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
      |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS i FROM merged),
      |kept AS (
      |  SELECT tok1.doc_id, string_agg(tok1.tok, ' ' ORDER BY tok1.i) AS ct
      |  FROM tok1 LEFT JOIN cov ON cov.doc_id = tok1.doc_id AND cov.i = tok1.i
      |  WHERE cov.i IS NULL GROUP BY tok1.doc_id)
      |SELECT toks.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |  COALESCE(agg.n_spans, 0) AS n_spans,
      |  COALESCE(agg.n_removed, 0) AS n_removed,
      |  COALESCE(kept.ct, '') AS clean_text
      |FROM toks
      |LEFT JOIN agg USING (doc_id)
      |LEFT JOIN kept ON kept.doc_id = toks.doc_id
      |ORDER BY toks.doc_id""".stripMargin

  // -- leading-boilerplate prefix dedup ---------------------------------------
  /** Shared-PREFIX collapse: pages that open with the same first K
    * tokens (navbars, cookie banners, licence headers) are dup
    * candidates even when their tails diverge, which no whole-doc hash
    * and only an expensive pairwise Jaccard would catch. The prefix
    * travels as ONE string key (never an exploded token stream) through
    * a single hash-partitioned groupBy — at 100 TB this is one shuffle
    * whose map side pre-aggregates, and a hot boilerplate prefix
    * (millions of pages) collapses to one row per partition before the
    * exchange. Output: one row per shared prefix, keyed by its
    * canonical (minimum) doc id.
    */
  def dedupPrefix(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("prefix", array_join(slice(tokenize(col("text")), 1, 12), " "))
      .groupBy("prefix")
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") > 1)
      .select("canonical_id", "n_docs", "n_chars", "n_sources")
      .orderBy("canonical_id")

  val dedupPrefixSql: String =
    """WITH p AS (
      |  SELECT doc_id, source, n_chars,
      |    array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[1:12], ' ') AS prefix
      |  FROM documents)
      |SELECT MIN(doc_id) AS canonical_id,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      |FROM p GROUP BY prefix HAVING COUNT(*) > 1
      |ORDER BY canonical_id""".stripMargin

  // -- corpus-frequency line scrub (C4 / RefinedWeb boilerplate removal) ------
  /** The C4 rule "drop any LINE occurring in ≥3 distinct documents"
    * ([[graft.ops.Dedup.scrubCommonSegments]]). The synthetic corpus
    * has no newlines, so the "line" here is a fixed 8-token window
    * (the operator takes any segments array — a real corpus passes
    * `split(text, '\n')`), and — like the PII fixture — the query
    * injects the boilerplate it exists to remove: an 8-token cookie
    * banner on every doc_id % 5 == 0 and a 16-token (2-segment)
    * licence footer on every doc_id % 3 == 0, prepended so segment
    * boundaries stay aligned (both are multiples of the window).
    * The oracle re-derives the whole pipeline independently and
    * compares the REBUILT clean text, so removal and order-preserving
    * reassembly are both value-checked.
    */
  def dedupLines(s: SparkSession, dir: String): DataFrame = {
    val bannerA = "please accept our cookie policy to continue browsing"
    val bannerB = "copyright twenty twenty four all rights reserved unauthorized " +
      "reproduction strictly prohibited terms of service privacy policy"
    // fan-out (r15 stage audit): the tokenize+segment chain ran as two
    // serial 1.2–1.3 s scan-fused tasks (freq leg + regroup leg); the
    // shared exchange spreads both and reads the leaf once. Counts are
    // integers; clean_text is rebuilt per row. Identity at scale.
    val fixt = graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("doc_id", "text"))
      .withColumn("__text", concat_ws(" ",
        when(col("doc_id") % 5 === 0, lit(bannerA)),
        when(col("doc_id") % 3 === 0, lit(bannerB)),
        col("text")))
      .withColumn("__t", tokenize(col("__text")))
      .withColumn("__segs", expr(
        "transform(sequence(0, cast(ceil(size(__t) / 8.0) as int) - 1), " +
          "i -> array_join(slice(__t, i * 8 + 1, 8), ' '))"))
    Dedup.scrubCommonSegments(fixt, "doc_id", col("__segs"), minDocs = 3)
      .select("doc_id", "n_segs", "n_removed", "clean_text")
      .orderBy("doc_id")
  }

  val dedupLinesSql: String =
    """WITH fx AS (
      |  SELECT doc_id, concat_ws(' ',
      |    CASE WHEN doc_id % 5 = 0 THEN 'please accept our cookie policy to continue browsing' END,
      |    CASE WHEN doc_id % 3 = 0 THEN 'copyright twenty twenty four all rights reserved unauthorized reproduction strictly prohibited terms of service privacy policy' END,
      |    text) AS text
      |  FROM documents),
      |toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM fx),
      |sg AS (
      |  SELECT doc_id, i, array_to_string(t[(i*8+1):((i+1)*8)], ' ') AS seg
      |  FROM toks, LATERAL (SELECT unnest(generate_series(0, CAST(CEIL(len(t)/8.0) AS BIGINT) - 1)) AS i)),
      |freq AS (SELECT seg FROM (SELECT seg, COUNT(DISTINCT doc_id) AS nd
      |                          FROM sg GROUP BY seg) q WHERE nd >= 3),
      |m AS (SELECT sg.doc_id, sg.i, sg.seg,
      |        sg.seg IN (SELECT seg FROM freq) AS boiler FROM sg)
      |SELECT doc_id, COUNT(*) AS n_segs,
      |  CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  COALESCE(string_agg(CASE WHEN NOT boiler THEN seg END, ' ' ORDER BY i), '') AS clean_text
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -- SimHash banding + hamming + exact-Jaccard verify ----------------------
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir), "doc_id", "text",
        nBands = 8, maxHamming = 23, threshold = 0.8)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")

  /** Same exhaustive ground truth as minhash: the ensemble candidate
    * set (8×8 simhash bands ∪ minhash-LSH) covers every J ≥ 0.8 pair,
    * and measured J ≥ 0.8 pairs across the testdata corpora sit at
    * hamming ≤ 12, far under maxHamming 23 (unrelated docs center near
    * 32), so the hamming filter drops none of them and the Jaccard
    * verify stage owns precision: the verified output is exactly the
    * above-threshold pair set.
    */
  val dedupSimhashSql: String =
    s"""WITH $allPairsJaccardCte
      |SELECT id_a, id_b, jaccard FROM jac
      |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin

  // -- exact n-gram Jaccard on bounded candidate pairs (rows-only) ----------
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val a = d.select(col("doc_id").as("id_a"), col("source").as("src"))
    val b = d.select(col("doc_id").as("id_b"), col("source").as("src"))
    val pairs = a.join(b, "src")
      .filter(col("id_b") > col("id_a") && col("id_b") <= col("id_a") + 20)
      .select("id_a", "id_b")
    Dedup.jaccard(d, "doc_id", "text", pairs)
      .select("id_a", "id_b", "n_a", "n_b", "n_inter", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Exact oracle for the hashed-shingle Jaccard: DuckDB rebuilds the
    * 3-gram STRING sets while the engine compares FNV64 hashes — equal
    * counts prove the hash-set representation is collision-free here
    * and the join machinery exact.
    */
  val dedupNgramJaccardSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
      |-- engine emits one whole-text shingle when a doc has <= 3 tokens
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
      |       WHERE len(t) > 3
      |       UNION
      |       SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) <= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a JOIN documents b
      |          ON a.source = b.source AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 20),
      |inter AS (SELECT p.id_a AS ia, p.id_b AS ib, COUNT(*) AS n_inter
      |          FROM pairs p JOIN sh sa ON sa.doc_id = p.id_a
      |          JOIN sh sb ON sb.doc_id = p.id_b AND sb.s = sa.s GROUP BY 1, 2)
      |SELECT p.id_a, p.id_b, za.n AS n_a, zb.n AS n_b,
      |  CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
      |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
      |FROM pairs p JOIN sizes za ON za.doc_id = p.id_a JOIN sizes zb ON zb.doc_id = p.id_b
      |LEFT JOIN inter i ON i.ia = p.id_a AND i.ib = p.id_b
      |ORDER BY p.id_a, p.id_b""".stripMargin

  // -- text quality ----------------------------------------------------------
  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityFeatures(docs(s, dir), "text")
      .select("doc_id", "n_tokens", "punct_ratio", "digit_ratio",
        "stopword_ratio", "mean_token_len", "quality_score")
      .orderBy("doc_id")

  // -- Gopher/C4 rule-based document filtering ------------------------------
  def textGopherFilters(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherFilters(docs(s, dir), "text")
      .select("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "alpha_word_ratio", "stop_hits", "keep")
      .orderBy("doc_id")

  val textGopherFiltersSql: String =
    """WITH w AS (
      |  SELECT doc_id, text,
      |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
      |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS nn
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, text, nn,
      |    CAST(len(toks) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
      |    CAST(len(list_filter(toks,
      |      x -> x IN ('the','a','an','and','or','of','to','in','is','on'))) AS BIGINT) AS stop_hits,
      |    CAST(length(text) - length(regexp_replace(text, '#', '', 'g')) AS BIGINT) AS n_hash,
      |    CAST((length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) // 3 AS BIGINT) AS n_ell
      |  FROM w)
      |SELECT doc_id, n_words,
      |  nn / n_words AS mean_word_len,
      |  CAST(n_hash + n_ell AS DOUBLE) / n_words AS symbol_word_ratio,
      |  CAST(alpha_words AS DOUBLE) / n_words AS alpha_word_ratio,
      |  stop_hits,
      |  (n_words BETWEEN 30 AND 100000) AND (nn / n_words BETWEEN 3.0 AND 10.0)
      |    AND (CAST(n_hash + n_ell AS DOUBLE) / n_words <= 0.1)
      |    AND (CAST(alpha_words AS DOUBLE) / n_words > 0.8)
      |    AND stop_hits >= 2
      |    AND NOT contains(text, '{')
      |    AND NOT contains(lower(text), 'lorem ipsum') AS keep
      |FROM s ORDER BY doc_id""".stripMargin

  // -- sliding-window chunking (context-window prep) ------------------------
  def dataChunkOverlap(s: SparkSession, dir: String): DataFrame =
    TextOps.chunks(docs(s, dir), "doc_id", "text", chunkSize = 32, stride = 24)
      .orderBy("doc_id", "chunk_idx")

  val dataChunkOverlapSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, t,
      |    CAST(unnest(generate_series(0,
      |      CAST(floor((len(t) - 1) / 24.0) AS INT))) AS INTEGER) AS chunk_idx
      |  FROM toks)
      |SELECT doc_id, chunk_idx,
      |  CAST(len(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS BIGINT) AS n_tokens,
      |  array_to_string(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  // -- PII scrub (emails / phones / IPv4 -> typed redaction tokens) --------
  /** The corpus has no organic PII, so the fixture INJECTS deterministic
    * PII spans (email for id%3, phone for id%5, IP for id%7 — some docs
    * get all three) and the scrub must find and redact exactly those;
    * the oracle re-injects and re-scrubs independently, comparing counts
    * AND the full redacted text.
    */
  def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val injected = docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".1"))).otherwise(lit(""))).as("text"))
    TextOps.piiScrub(injected, "text")
      .select("doc_id", "n_emails", "n_phones", "n_ips", "scrubbed")
      .orderBy("doc_id")
  }

  val textPiiScrubSql: String =
    """WITH inj AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-5309' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
      |         ELSE '' END AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(t, '\d+\.\d+\.\d+\.\d+')) AS BIGINT) AS n_ips,
      |  regexp_replace(regexp_replace(regexp_replace(t,
      |    '[a-z0-9.]+@[a-z0-9.]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
      |    '\d+\.\d+\.\d+\.\d+', '<IP>', 'g') AS scrubbed
      |FROM inj ORDER BY doc_id""".stripMargin

  val textQualitySql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS n_chars_d,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tokens_d,
      |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits,
      |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> x IN ('the','a','an','and','or','of','to','in','is','on'))) AS DOUBLE) AS n_stop
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(n_tokens_d AS BIGINT) AS n_tokens,
      |  n_punct / n_chars_d AS punct_ratio,
      |  n_digits / n_chars_d AS digit_ratio,
      |  n_stop / n_tokens_d AS stopword_ratio,
      |  (n_chars_d - n_tokens_d + 1.0) / n_tokens_d AS mean_token_len,
      |  1.0 - least(1.0, (n_punct / n_chars_d) * 4) - least(1.0, (n_digits / n_chars_d) * 4) * 0.5
      |    + least(0.5, n_stop / n_tokens_d) AS quality_score
      |FROM q ORDER BY doc_id""".stripMargin

  // -- language id -----------------------------------------------------------
  def textLangid(s: SparkSession, dir: String): DataFrame =
    TextOps.langConfusion(docs(s, dir), "text", "lang")
      .orderBy("lang_true", "lang_guess")

  val textLangidSql: String =
    """SELECT lang AS lang_true,
      |  CASE WHEN ' ' || lower(trim(text)) || ' ' LIKE '% el %'
      |         OR ' ' || lower(trim(text)) || ' ' LIKE '% la %' THEN 'es'
      |       WHEN ' ' || lower(trim(text)) || ' ' LIKE '% le %'
      |         OR ' ' || lower(trim(text)) || ' ' LIKE '% un %' THEN 'fr'
      |       WHEN ' ' || lower(trim(text)) || ' ' LIKE '% der %'
      |         OR ' ' || lower(trim(text)) || ' ' LIKE '% und %' THEN 'de'
      |       ELSE 'en' END AS lang_guess,
      |  COUNT(*) AS n
      |FROM documents GROUP BY 1, 2 ORDER BY lang_true, lang_guess""".stripMargin

  // -- token counts ----------------------------------------------------------
  def textTokenCount(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(docs(s, dir), "text")
      .select("doc_id", "ws_tokens", "bpe_tokens")
      .orderBy("doc_id")

  val textTokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // -- learned-BPE subword tokenization ---------------------------------------
  /** The 16 merges `graft.ops.Bpe.train` learns from the sf0.01 corpus
    * (word-frequency table, deterministic count-desc/lexicographic
    * tie-break — re-derivable by re-running the trainer; BpeSpec proves
    * the trainer against a single-node reference implementation). The
    * QUERY pins the table so the tokenizer is a fixed artifact applied
    * to any corpus — exactly how a trained tokenizer ships.
    */
  val bpeMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"), ("m", "er"),
    ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"), ("j", "o"), ("jo", "in"),
    ("a", "s"), ("as", "h"), ("h", "ash"), ("r", "ow"))

  /** Subword tokenization with the LEARNED merge table: every word
    * becomes a delimiter-separated symbol string and each merge is one
    * literal non-overlapping replace (= the greedy BPE scan; see
    * [[graft.ops.Bpe]]), applied in training order — k merges = k
    * nested codegen'd replaces, zero shuffle until the per-source
    * rollup. Output: per-source word/subword counts and the
    * tokens-per-word fertility the tokenizer team actually monitors.
    */
  def textBpeApply(s: SparkSession, dir: String): DataFrame =
    // fan-out (r15 stage audit): the 16-replace merge chain fused into
    // the single-row-group scan as ONE 2.2 s task; integer rollup, so
    // partition-order-invariant. Identity at scale (see fanOutNarrowScan).
    graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("source", "doc_id", "text"))
      .select(col("source"), col("doc_id"),
        explode(tokenize(col("text"))).as("word"))
      .where(col("word") =!= "")
      .withColumn("syms", Bpe.applyMerges(Bpe.toSymbols(col("word")), bpeMerges))
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(Bpe.symbolCount(col("syms")).cast("long")).as("n_subwords"))
      .withColumn("tokens_per_word",
        col("n_subwords").cast("double") / col("n_words"))
      .orderBy("source")

  val textBpeApplySql: String = {
    def q(s: String) = s.replace("'", "''")
    // double-delimiter encoding (see graft.ops.Bpe): pattern consumes
    // only the INNER half of each ␁␁ boundary so adjacent disjoint
    // occurrences both match in one left-to-right replace pass
    def pat(a: String, b: String): String =
      s"chr(1) || '${q(a)}' || chr(1) || chr(1) || '${q(b)}' || chr(1)"
    def rep(ab: String): String = s"chr(1) || '${q(ab)}' || chr(1)"
    val base = "chr(1) || chr(1) || regexp_replace(word, '(.)', '\\1' || chr(1) || chr(1), 'g')"
    val chain = bpeMerges.foldLeft(base) { case (e, (a, b)) =>
      s"replace($e, ${pat(a, b)}, ${rep(a + b)})"
    }
    s"""WITH toks AS (SELECT source, doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
      |w AS (SELECT source, doc_id, unnest(t) AS word FROM toks),
      |m AS (SELECT source, doc_id, $chain AS s FROM w WHERE word <> ''),
      |c AS (SELECT source, doc_id,
      |        CAST((length(s) - length(replace(s, chr(1), ''))) // 2 - 1 AS BIGINT) AS n
      |      FROM m)
      |SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_words,
      |  CAST(SUM(n) AS BIGINT) AS n_subwords,
      |  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS tokens_per_word
      |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  // -- deterministic stratified train/val/test split ---------------------------
  /** Split assignment must be a pure function of the row key — never
    * `sample()` — so reruns, retries, and different partitionings give
    * the same split. Lehmer/MINSTD step: reduce the key mod 2^31-1
    * first, so the multiply stays < 2^47 — genuinely exact in signed
    * 64-bit arithmetic on BOTH engines for any Long key (a raw
    * Knuth-multiply would overflow under Spark's ANSI mode for ids
    * beyond ~3.5e9). Buckets 0-79 train, 80-89 val, 90-99 test.
    */
  private def splitBucket(id: Column): Column =
    pmod(pmod(id, lit(2147483647L)) * lit(48271L), lit(2147483647L)) % 100

  private val splitBucketSql =
    "((doc_id % 2147483647) * 48271) % 2147483647 % 100"

  def dataSplitStratified(s: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucket(col("doc_id"))
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    docs(s, dir)
      .groupBy(split.as("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy("split", "lang")
  }

  val dataSplitSql: String =
    s"""SELECT CASE WHEN $splitBucketSql < 80 THEN 'train'
      |            WHEN $splitBucketSql < 90 THEN 'val'
      |            ELSE 'test' END AS split,
      |  lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // -- train/test decontamination ----------------------------------------------
  /** Decontamination: test docs whose content fingerprint appears in
    * train leak evaluation data. Exact check via md5 over normalized
    * text; the anti-join shape scales (broadcast the test fingerprints
    * against a 100 TB train side).
    */
  def dataDecontamination(s: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucket(col("doc_id"))
    val withSplit = docs(s, dir)
      .withColumn("fp", md5(lower(trim(col("text")))))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val trainFps = withSplit.filter(col("split") === "train").select("fp").distinct()
    val test = withSplit.filter(col("split") =!= "train")
    val contaminated = test.join(trainFps, Seq("fp"), "left_semi")
    test.groupBy("split").agg(count(lit(1)).as("n_docs"))
      .join(contaminated.groupBy("split").agg(count(lit(1)).as("n_contaminated")),
        Seq("split"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .orderBy("split")
  }

  val dataDecontaminationSql: String =
    s"""WITH d AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS fp,
      |    CASE WHEN $splitBucketSql < 80 THEN 'train'
      |         WHEN $splitBucketSql < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |train_fp AS (SELECT DISTINCT fp FROM d WHERE split = 'train')
      |SELECT d.split, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN d.fp IN (SELECT fp FROM train_fp) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contaminated
      |FROM d WHERE d.split <> 'train'
      |GROUP BY d.split ORDER BY d.split""".stripMargin

  // -- corpus mixing: deterministic per-source sampling -----------------------
  /** Training-mix construction: each source gets a sampling rate and
    * docs are kept by a pure hash of their id (Lehmer step, distinct
    * multiplier from the split function so the two decisions are
    * independent) — rerun/retry/partition stable, no RNG state, and the
    * keep decision is computable per row wherever it lands (no shuffle
    * to sample 100 TB).
    */
  def dataSampleBySource(s: SparkSession, dir: String): DataFrame = {
    // try_cast + coalesce: a source name with no digit suffix must get
    // a deterministic default rate on BOTH engines, not a silent null
    // keep-decision here and a cast error in the oracle
    val srcIdx = coalesce(
      expr("try_cast(regexp_replace(source, '[^0-9]', '') as int)"), lit(0))
    val ratePct = (pmod(srcIdx, lit(4)) + 1) * 25 // 25/50/75/100 by source
    val keep =
      pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(16807L), lit(2147483647L)) % 100 < ratePct
    docs(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(keep, col("n_chars"))), lit(0L)).as("kept_chars"))
      .orderBy("source")
  }

  val dataSampleBySourceSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN ((doc_id % 2147483647) * 16807) % 2147483647 % 100
      |        < (COALESCE(TRY_CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INTEGER), 0) % 4 + 1) * 25
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(SUM(CASE WHEN ((doc_id % 2147483647) * 16807) % 2147483647 % 100
      |        < (COALESCE(TRY_CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INTEGER), 0) % 4 + 1) * 25
      |      THEN n_chars END), 0) AS BIGINT) AS kept_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // -- deterministic output sharding (training-file layout) -------------------
  /** Assign every document a deterministic output SHARD — the file
    * layout a training run reads (shard count = data-loader worker
    * count). The assignment is a pure Lehmer hash of the doc id
    * (multiplier 48271, deliberately different from the sampling
    * split's 16807 so shard and sample decisions are independent):
    * zero-shuffle, rerun/retry/partition stable, computable wherever
    * the row lands — at 100 TB the write is
    * `df.write.partitionBy("shard")` with no repartition needed, and
    * the ONE aggregation here is the balance audit (16 groups,
    * map-side combined). `skew` = shard's doc share vs the ideal
    * 1/nShards; the hash keeps it ~1.0 at any corpus size.
    */
  def dataShardAssign(s: SparkSession, dir: String): DataFrame = {
    val nShards = 16
    val shard = pmod(pmod(col("doc_id"), lit(2147483647L)) * lit(48271L),
      lit(2147483647L)) % nShards
    val perShard = docs(s, dir)
      .withColumn("shard", shard)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
    // the skew audit window runs over the 16-row AGGREGATE, not the corpus
    val w = Window.partitionBy()
    perShard
      .withColumn("skew",
        col("n_docs") * nShards / sum("n_docs").over(w).cast("double"))
      .orderBy("shard")
  }

  val dataShardAssignSql: String =
    """WITH a AS (
      |  SELECT ((doc_id % 2147483647) * 48271) % 2147483647 % 16 AS shard,
      |    n_chars, doc_id
      |  FROM documents),
      |g AS (SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |      FROM a GROUP BY shard)
      |SELECT shard, n_docs, n_chars, min_doc, max_doc,
      |  n_docs * 16 / CAST(SUM(n_docs) OVER () AS DOUBLE) AS skew
      |FROM g ORDER BY shard""".stripMargin

  // -- per-source document caps (domain caps) ---------------------------------
  /** Common-crawl-style DOMAIN CAP: no source may contribute more than
    * `cap` documents to the training mix, and the survivors are the
    * best by a deterministic priority (longest first, doc_id
    * tiebreak) — the per-domain anti-spam valve every web-scale
    * curation pipeline runs. One window PARTITIONED BY SOURCE (each
    * domain ranks in parallel — no global sort), one aggregation.
    */
  def dataSourceCaps(s: SparkSession, dir: String): DataFrame =
    sourceCapsOn(docs(s, dir))

  /** The caps accounting over any (doc_id, source, n_chars) frame —
    * ScaleSmoke drives this with a one-dominant-source remap.
    */
  private[graft] def sourceCapsOn(d: DataFrame): DataFrame = {
    val cap = 15
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    // SPLIT formulation, not one window over everything: totals come
    // from a plain agg (no sort at all), and the top-cap leg filters
    // on row_number ≤ cap IMMEDIATELY — the shape Spark's rank-limit
    // pushdown (WindowGroupLimit) partial-top-k's per partition before
    // the final window, so a dominant source costs cap rows per input
    // partition instead of one task sorting the whole source. The
    // previous single-window form kept post-cap rows (for n_docs) and
    // so could never take the group-limit path; PlanInvariantSpec pins
    // WindowGroupLimit into this plan.
    val totals = d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) > cap).as("cap_hit"))
    val top = d
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("kept_chars"))
    totals.join(top, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"),
        col("cap_hit"))
      .orderBy("source")
  }

  val dataSourceCapsSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(SUM(CASE WHEN rn <= 15 THEN n_chars END), 0) AS BIGINT) AS kept_chars,
      |  COUNT(*) > 15 AS cap_hit
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // -- curriculum binning by length decile ------------------------------------
  /** Short-to-long CURRICULUM construction: decile-bucket the corpus by
    * token count (ntile over the deterministic total order
    * (n_tokens, doc_id)) and report each bucket's composition — the
    * data loader feeds buckets in order. Two modes, same buckets: the
    * exact ntile window (one global sort — the literal spec) and the
    * scale mode below, which replaces the sort with a histogram
    * broadcast + boundary-group ranking and is held to the SAME oracle.
    */
  def dataCurriculumBuckets(s: SparkSession, dir: String): DataFrame =
    curriculumBuckets(s, dir, exact = true)

  /** The 100 TB mode: [[graft.ops.Buckets.ntileByHistogram]] — same
    * buckets (ties included), proven by sharing the exact mode's SQL
    * oracle, with the global sort replaced by a histogram broadcast +
    * boundary-group-only ranking.
    */
  def dataCurriculumCutpoints(s: SparkSession, dir: String): DataFrame =
    curriculumBuckets(s, dir, exact = false)

  private def curriculumBuckets(s: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    val base = docs(s, dir).withColumn("n_tokens", size(tokenize(col("text"))))
    val bucketed =
      if (exact) {
        val w = Window.orderBy(col("n_tokens"), col("doc_id"))
        base.withColumn("bucket", ntile(10).over(w).cast("long"))
      } else Buckets.ntileByHistogram(base, "n_tokens", "doc_id", 10)
    bucketed
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).cast("long").as("min_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("bucket")
  }

  val dataCurriculumBucketsSql: String =
    """WITH t AS (
      |  SELECT doc_id, source, n_chars,
      |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
      |  FROM documents),
      |b AS (
      |  SELECT *, CAST(NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
      |  FROM t)
      |SELECT bucket, COUNT(*) AS n_docs,
      |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // -- per-label embedding centroid coherence ---------------------------------
  /** Label-quality audit: every member's cosine to its label centroid
    * (mislabel/outlier detection over a curated embedding corpus). See
    * [[graft.ops.Similarity.labelCentroidCosines]] — integer-quantized
    * centroid sums keep the distributed aggregation exact, so the
    * oracle can hash-match the doubles.
    */
  def embeddingLabelCoherence(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidCosines(embs(s, dir), "vec_id", "embedding", "label")
      .select("vec_id", "label", "n_members", "cos_to_centroid", "is_outlier")
      .orderBy("vec_id")

  val embeddingLabelCoherenceSql: String =
    """WITH ex AS (
      |  SELECT vec_id, label, i,
      |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qx
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
      |cent AS (SELECT label, i, CAST(SUM(qx) AS BIGINT) AS s FROM ex GROUP BY 1, 2),
      |m AS (
      |  SELECT ex.vec_id, ex.label,
      |    CAST(SUM(ex.qx * cent.s) AS BIGINT) AS dot,
      |    CAST(SUM(ex.qx * ex.qx) AS BIGINT) AS na2,
      |    CAST(SUM(cent.s * cent.s) AS BIGINT) AS nc2
      |  FROM ex JOIN cent ON cent.label = ex.label AND cent.i = ex.i
      |  GROUP BY 1, 2),
      |nm AS (SELECT label, COUNT(*) AS n_members FROM embeddings GROUP BY 1)
      |SELECT m.vec_id, m.label, nm.n_members,
      |  CAST(m.dot AS DOUBLE) /
      |    (sqrt(CAST(m.na2 AS DOUBLE)) * sqrt(CAST(m.nc2 AS DOUBLE))) AS cos_to_centroid,
      |  CAST(m.dot AS DOUBLE) /
      |    (sqrt(CAST(m.na2 AS DOUBLE)) * sqrt(CAST(m.nc2 AS DOUBLE))) < 0.05 AS is_outlier
      |FROM m JOIN nm ON nm.label = m.label
      |ORDER BY m.vec_id""".stripMargin

  // -- unsupervised embedding clustering --------------------------------------
  /** [[graft.ops.Similarity.kmeansAssignments]] — k=8 topic buckets,
    * two assignment passes from the k-lowest-id seeds. Quantized
    * integer distances and exact portable floor-division centroid
    * updates make every assignment and distance bit-identical to the
    * oracle's re-derivation.
    */
  def embeddingKmeans(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssignments(embs(s, dir), "vec_id", "embedding",
      k = 8, iterations = 2)
      .orderBy("vec_id")

  /** The exact-integer k-means re-derivation (k=8, 2 passes), shared by
    * `embedding_kmeans` and `dedup_semantic` — ends in `asg(vec_id,
    * cluster, dist2)` plus the quantized-element frame `q(vec_id, i, qx)`.
    */
  private val kmeansAsgCte: String =
    """q AS (
      |  SELECT vec_id, i,
      |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qx
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
      |seed AS (
      |  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
      |  FROM embeddings ORDER BY vec_id LIMIT 8),
      |c0 AS (SELECT seed.cluster, q.i, q.qx AS cv FROM seed JOIN q USING (vec_id)),
      |d1 AS (
      |  SELECT q.vec_id, c0.cluster,
      |    CAST(SUM((q.qx - c0.cv) * (q.qx - c0.cv)) AS BIGINT) AS dist2
      |  FROM q JOIN c0 ON c0.i = q.i GROUP BY 1, 2),
      |a1 AS (
      |  SELECT vec_id, cluster FROM (
      |    SELECT vec_id, cluster,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
      |    FROM d1) WHERE rn = 1),
      |-- centroid components: exact floor division (subtract the positive
      |-- mod first) — the quotient is exactly divisible, so // here and
      |-- Spark's truncating div agree for negative sums too
      |c1 AS (
      |  SELECT a1.cluster, q.i,
      |    CAST((SUM(q.qx) - (((SUM(q.qx) % COUNT(*)) + COUNT(*)) % COUNT(*)))
      |      // COUNT(*) AS BIGINT) AS cv
      |  FROM a1 JOIN q USING (vec_id) GROUP BY 1, 2),
      |d2 AS (
      |  SELECT q.vec_id, c1.cluster,
      |    CAST(SUM((q.qx - c1.cv) * (q.qx - c1.cv)) AS BIGINT) AS dist2
      |  FROM q JOIN c1 ON c1.i = q.i GROUP BY 1, 2),
      |asg AS (
      |  SELECT vec_id, cluster, dist2 FROM (
      |    SELECT vec_id, cluster, dist2,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
      |    FROM d2) WHERE rn = 1)""".stripMargin

  val embeddingKmeansSql: String =
    s"""WITH $kmeansAsgCte
      |SELECT vec_id, cluster, dist2 FROM asg ORDER BY vec_id""".stripMargin

  // -- SemDeDup: cluster-then-prune semantic dedup ----------------------------
  /** [[graft.ops.Similarity.semanticDedup]] — the SemDeDup recipe
    * (cluster with exact integer k-means, pairwise cosine ONLY within
    * each cell, keep each dup group's member farthest from its
    * centroid). Threshold 0.45 for the same reason as
    * `dedup_embedding_cosine`: the isotropic corpus tops out near cos
    * 0.53. The oracle replays every stage — cells, quantized-integer
    * pair cosines, transitive closure, the max-dist2 keep rule — so a
    * wrong cell assignment, a missed within-cell pair, or a wrong
    * keeper all hash-fail.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(embs(s, dir), "vec_id", "embedding",
        k = 8, iterations = 2, threshold = 0.45)
      .orderBy("vec_id")

  val dedupSemanticSql: String =
    s"""WITH RECURSIVE $kmeansAsgCte,
      |n2 AS (SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS n2 FROM q GROUP BY 1),
      |pr AS (
      |  SELECT x.vec_id AS ia, y.vec_id AS ib,
      |    CAST(SUM(qa.qx * qb.qx) AS BIGINT) AS dot
      |  FROM asg x JOIN asg y ON y.cluster = x.cluster AND y.vec_id > x.vec_id
      |  JOIN q qa ON qa.vec_id = x.vec_id
      |  JOIN q qb ON qb.vec_id = y.vec_id AND qb.i = qa.i
      |  GROUP BY 1, 2),
      |ed0 AS (
      |  SELECT ia, ib FROM pr
      |  JOIN n2 na ON na.vec_id = pr.ia
      |  JOIN n2 nb ON nb.vec_id = pr.ib
      |  WHERE CAST(dot AS DOUBLE) /
      |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.45),
      |edges AS (SELECT ia AS a, ib AS b FROM ed0 UNION SELECT ib, ia FROM ed0),
      |reach(id, lab) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id),
      |lab AS (SELECT id, MIN(lab) AS sem_group FROM reach GROUP BY id),
      |gsz AS (SELECT sem_group, COUNT(*) AS group_size FROM lab GROUP BY 1),
      |kp AS (
      |  SELECT l.id, l.sem_group,
      |    ROW_NUMBER() OVER (PARTITION BY l.sem_group ORDER BY a.dist2 DESC, l.id) AS rn
      |  FROM lab l JOIN asg a ON a.vec_id = l.id)
      |SELECT a.vec_id, a.cluster, a.dist2, l.sem_group,
      |  CAST(g.group_size AS BIGINT) AS group_size, kp.rn = 1 AS keep
      |FROM asg a
      |JOIN lab l ON l.id = a.vec_id
      |JOIN gsz g USING (sem_group)
      |JOIN kp ON kp.id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin

  // -- bloom-prefiltered decontamination --------------------------------------
  /** The 100 TB execution shape of `data_decontamination`: when the
    * train fingerprint set is too large to broadcast exactly, its
    * Bloom filter is not — [[graft.ops.Membership]] embeds the filter
    * as a plan literal, `might_contain` pre-filters the probing side
    * with zero shuffle, and the exact semi-join runs only on the
    * candidates (no false negatives, so output ≡ the plain
    * semi-join). Shares `data_decontamination`'s oracle — the driver
    * proves the two modes produce BIT-IDENTICAL reports, the
    * curriculum cutpoints precedent.
    */
  def dataDecontaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucket(col("doc_id"))
    val withSplit = docs(s, dir)
      .withColumn("fp", md5(lower(trim(col("text")))))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val trainFps = withSplit.filter(col("split") === "train").select("fp").distinct()
    val test = withSplit.filter(col("split") =!= "train")
    val bloom = graft.ops.Membership.buildBloom(trainFps, "fp",
      expectedItems = 100000L, numBits = 1L << 20)
    val contaminated = graft.ops.Membership.bloomCandidates(test, bloom, "fp")
      .join(trainFps, Seq("fp"), "left_semi")
    test.groupBy("split").agg(count(lit(1)).as("n_docs"))
      .join(contaminated.groupBy("split").agg(count(lit(1)).as("n_contaminated")),
        Seq("split"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .orderBy("split")
  }

  // -- T5/UL2 span corruption -------------------------------------------------
  /** Span-corruption preprocessing (the T5/UL2 denoising objective's
    * data prep): mask ~20 % of each document's 3-token blocks, replace
    * each masked block with an incrementing `<extra_id_k>` sentinel,
    * and emit the (corrupted input, targets) pair a seq2seq trainer
    * consumes. Mask selection is a pure Lehmer hash of
    * (doc_id·1009 + block) — rerun/retry/partition stable, and the
    * oracle re-derives it exactly (the `data_split_stratified`
    * precedent). Sentinel numbering is a per-DOC running count
    * (window partitioned by doc — docs number in parallel); block
    * text and the final pieces reassemble order-preserving via
    * array_sort structs, never a global sort.
    */
  def dataSpanCorruption(s: SparkSession, dir: String): DataFrame = {
    val m = 2147483647L
    val toks = graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("doc_id", "text"))
      .select(col("doc_id"),
        posexplode(tokenize(col("text"))).as(Seq("pos", "tok")))
      .withColumn("block", expr("pos div 3"))
    val blocks = toks.groupBy("doc_id", "block")
      .agg(expr("array_join(transform(array_sort(collect_list(" +
        "struct(pos, tok))), p -> p.tok), ' ')").as("btext"))
      .withColumn("masked",
        pmod(pmod(col("doc_id") * 1009L + col("block"), lit(m)) * 69621L,
          lit(m)) % 5 === 0)
    val w = Window.partitionBy("doc_id").orderBy("block")
    val idx = blocks.withColumn("sent_idx",
      sum(when(col("masked"), 1L).otherwise(0L)).over(w) -
        when(col("masked"), 1L).otherwise(0L))
    idx.groupBy("doc_id").agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_masked"),
        expr("array_join(transform(array_sort(collect_list(struct(block, " +
          "CASE WHEN masked THEN concat('<extra_id_', sent_idx, '>') " +
          "ELSE btext END AS piece))), p -> p.piece), ' ')").as("corrupted"),
        // collect_list drops the NULL unmasked entries: targets carry
        // sentinels + the masked content only, in block order
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN masked THEN struct(block, " +
          "concat('<extra_id_', sent_idx, '> ', btext) AS piece) END)), " +
          "p -> p.piece), ' ')").as("targets"))
      .orderBy("doc_id")
  }

  val dataSpanCorruptionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, i - 1 AS pos, t[i] AS tok, (i - 1) // 3 AS block
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |        FROM documents),
      |    LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
      |bl AS (
      |  SELECT doc_id, block, string_agg(tok, ' ' ORDER BY pos) AS btext,
      |    ((doc_id * 1009 + block) % 2147483647) * 69621 % 2147483647 % 5 = 0 AS masked
      |  FROM toks GROUP BY doc_id, block),
      |ix AS (
      |  SELECT *,
      |    SUM(CASE WHEN masked THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY block ROWS UNBOUNDED PRECEDING)
      |      - CASE WHEN masked THEN 1 ELSE 0 END AS sent_idx
      |  FROM bl)
      |SELECT doc_id,
      |  COUNT(*) AS n_blocks,
      |  CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
      |  string_agg(CASE WHEN masked THEN '<extra_id_' || CAST(sent_idx AS VARCHAR) || '>'
      |                  ELSE btext END, ' ' ORDER BY block) AS corrupted,
      |  COALESCE(string_agg(CASE WHEN masked
      |    THEN '<extra_id_' || CAST(sent_idx AS VARCHAR) || '> ' || btext END,
      |    ' ' ORDER BY block), '') AS targets
      |FROM ix GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // -- code-vs-prose detection -------------------------------------------------
  /** Heuristic code detection — the routing gate a mixed crawl runs
    * before prose-only quality filters mangle source files (code goes
    * to the code pipeline, prose to Gopher/C4). Signals are the
    * standard shape heuristics, all codegen'd: brace/semicolon counts
    * (length-diff trick — no regex engine in the hot path for single
    * chars), code-keyword hits, and per-word ratios; the verdict is a
    * boolean expression over them. The synthetic corpus has no code,
    * so — like the PII op's injected PII — docs with id % 7 == 0 get a
    * deterministic snippet appended, and the oracle re-derives the
    * injection and every signal independently.
    */
  def textCodeDetect(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val t = concat(col("text"),
      when(id % 7 === 0, concat(lit(" function f"), id.cast("string"),
        lit("() { var x = "), (id % 97).cast("string"),
        lit("; return x * x; } // generated"))).otherwise(lit("")))
    def charCount(c: Column, ch: String): Column =
      (length(c) - length(regexp_replace(c, lit("\\" + ch), lit("")))).cast("long")
    docs(s, dir).select(col("doc_id"), t.as("t"))
      .withColumn("n_braces", charCount(col("t"), "{") + charCount(col("t"), "}"))
      .withColumn("n_semis",
        (length(col("t")) - length(regexp_replace(col("t"), ";", ""))).cast("long"))
      .withColumn("keyword_hits", regexp_count(col("t"),
        lit("\\b(function|var|return|def|class|import)\\b")).cast("long"))
      .withColumn("n_words", size(split(trim(col("t")), "\\s+")).cast("long"))
      .withColumn("brace_ratio",
        col("n_braces").cast("double") / col("n_words").cast("double"))
      .withColumn("is_code",
        col("n_braces") >= 2 && (col("n_semis") >= 1 || col("keyword_hits") >= 2))
      .select("doc_id", "n_braces", "n_semis", "keyword_hits", "n_words",
        "brace_ratio", "is_code")
      .orderBy("doc_id")
  }

  val textCodeDetectSql: String =
    """WITH inj AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' function f' || CAST(doc_id AS VARCHAR) || '() { var x = ' ||
      |              CAST(doc_id % 97 AS VARCHAR) || '; return x * x; } // generated'
      |         ELSE '' END AS t
      |  FROM documents),
      |sg AS (
      |  SELECT doc_id,
      |    CAST(length(t) - length(replace(t, '{', '')) +
      |         length(t) - length(replace(t, '}', '')) AS BIGINT) AS n_braces,
      |    CAST(length(t) - length(replace(t, ';', '')) AS BIGINT) AS n_semis,
      |    CAST(len(regexp_extract_all(t, '\b(function|var|return|def|class|import)\b')) AS BIGINT) AS keyword_hits,
      |    CAST(len(regexp_split_to_array(trim(t), '\s+')) AS BIGINT) AS n_words
      |  FROM inj)
      |SELECT doc_id, n_braces, n_semis, keyword_hits, n_words,
      |  CAST(n_braces AS DOUBLE) / CAST(n_words AS DOUBLE) AS brace_ratio,
      |  n_braces >= 2 AND (n_semis >= 1 OR keyword_hits >= 2) AS is_code
      |FROM sg ORDER BY doc_id""".stripMargin

  // -- source-interleaved training order --------------------------------------
  /** The GLOBAL training-stream order (round-robin interleave of
    * sources: position-0 docs of every source first, then position-1,
    * …) computed WITHOUT a global sort: each doc's rank under
    * (pos_in_source, source) is a closed form over the per-source
    * length vector — `rank = pos + Σ_{s'≠s} (min(pos, len_s') +
    * 1{s'<s ∧ len_s' > pos})` — evaluated per row against a 1-row
    * broadcast of the (source, length) control frame. The only
    * shuffles are the per-SOURCE position windows (sources rank in
    * parallel) and the tiny length aggregate; at 100 TB the write is
    * `repartitionByRange(interleave_rank)` and no stage ever total-
    * orders the corpus. The oracle computes the same rank as a global
    * window — proving the closed form IS the total order.
    */
  def dataInterleaveOrder(s: SparkSession, dir: String): DataFrame =
    interleaveOrderMode(s, dir, giantSourceThreshold = 1L << 20)

  /** Forced scale mode (threshold 0) — the per-source position comes
    * from the distributed prefix sum instead of the per-source
    * row_number window, held to the SAME global-window oracle as
    * [[dataInterleaveOrder]]: a row_number IS a running sum of ones,
    * so [[graft.ops.Buckets.runningSumByRange]] with a unit weight is
    * the giant-source drop-in (the pack_sequences machinery for free).
    */
  def dataInterleaveOrderRanged(s: SparkSession, dir: String): DataFrame =
    interleaveOrderMode(s, dir, giantSourceThreshold = 0L)

  private[graft] def interleaveOrderMode(s: SparkSession, dir: String,
      giantSourceThreshold: Long): DataFrame =
    interleaveOn(docs(s, dir).select("doc_id", "source"),
      giantSourceThreshold)

  /** Interleave any (doc_id, source) frame — the spec seam for mixed
    * giant/window regimes (the fixture's sources are equal-sized, so
    * a genuine split needs synthetic skew).
    */
  private[graft] def interleaveOn(d: DataFrame,
      giantSourceThreshold: Long): DataFrame = {
    val (giants, allGiant) =
      giantSourceSplit(d.select("source"), "source", giantSourceThreshold)
    def viaWindow(df: DataFrame) = {
      val w = Window.partitionBy("source").orderBy("doc_id")
      df.withColumn("pos_in_source", row_number().over(w).cast("long") - 1)
    }
    def viaRange(df: DataFrame) =
      Buckets.runningSumByRange(df.withColumn("__one", lit(1L)), "__one",
          "doc_id", "doc_id", Seq("source"), "__incl")
        .withColumn("pos_in_source", col("__incl") - 1)
        .drop("__one", "__incl")
    val pos =
      if (giants.isEmpty) viaWindow(d)
      else if (allGiant) viaRange(d)
      else viaRange(d.filter(
          coalesce(col("source").isInCollection(giants), lit(false))))
        .unionByName(viaWindow(d.filter(
          !coalesce(col("source").isInCollection(giants), lit(false)))))
    val lens = d.groupBy("source").agg(count(lit(1)).as("len"))
      .agg(expr("array_sort(collect_list(struct(source, len)))").as("__lens"))
    pos.crossJoin(broadcast(lens))
      .withColumn("interleave_rank", expr(
        "pos_in_source + aggregate(filter(__lens, e -> e.source != source), " +
          "CAST(0 AS BIGINT), (acc, e) -> acc + least(pos_in_source, e.len) + " +
          "(CASE WHEN e.source < source AND e.len > pos_in_source THEN 1 ELSE 0 END))"))
      .select("doc_id", "source", "pos_in_source", "interleave_rank")
      .orderBy("doc_id")
  }

  val dataInterleaveOrderSql: String =
    """WITH p AS (
      |  SELECT doc_id, source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS BIGINT)
      |      AS pos_in_source
      |  FROM documents)
      |SELECT doc_id, source, pos_in_source,
      |  CAST(ROW_NUMBER() OVER (ORDER BY pos_in_source, source) - 1 AS BIGINT)
      |    AS interleave_rank
      |FROM p
      |ORDER BY doc_id""".stripMargin

  // -- tokenizer vocabulary coverage ------------------------------------------
  /** Per-source vocabulary coverage audit: with a top-V corpus
    * vocabulary (V=1000, ties broken by term — deterministic), what
    * fraction of each source's tokens would an embedding table miss
    * (OOV rate), and how many distinct OOV types does the source
    * carry? The gate a tokenizer/vocab refresh runs per source before
    * training. Vocab selection is TakeOrdered (never a global sort of
    * the term frame at scale), membership is a broadcast left join,
    * the rollup is one conditional aggregation.
    */
  def dataVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("source"),
      explode(tokenize(col("text"))).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(1000)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
        countDistinct(when(col("in_vocab").isNull, col("tok"))).as("n_oov_types"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
      .orderBy("source")
  }

  val dataVocabCoverageSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |vf AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
      |vocab AS (
      |  SELECT tok FROM (
      |    SELECT tok, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rn FROM vf)
      |  WHERE rn <= 1000)
      |SELECT t.source,
      |  COUNT(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(COUNT(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END) AS BIGINT) AS n_oov_types,
      |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE) /
      |    CAST(COUNT(*) AS DOUBLE) AS oov_rate
      |FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
      |GROUP BY t.source
      |ORDER BY t.source""".stripMargin

  // -- semantic (embedding-level) decontamination -----------------------------
  /** Embedding-space decontamination: training vectors semantically
    * close to any EVAL vector (cos ≥ 0.45) are flagged before a
    * training run — the pass that catches paraphrased leakage the
    * n-gram overlap check (`data_contamination_ngram`) cannot see.
    * Spark-first shape: the eval set (vec_id % 10 == 0, the
    * deterministic stand-in for a benchmark suite) PROBES an LSH index
    * built over the training corpus ([[graft.ops.Similarity]]
    * incremental probe — train is hashed once, the probe is O(eval),
    * exactly the nightly-benchmark-refresh cost profile at 100 TB).
    * 4×64 granularity ⇒ per-pair candidate-miss < 4e-6 at 0.45, so
    * flagged pairs equal the exhaustive cross-set oracle. Per train
    * vector: hit count, worst (highest) cosine and its eval id
    * (ties to the lowest id — one struct max, order-independent).
    */
  def dataDecontaminationSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val evalSet = e.filter(pmod(col("vec_id"), lit(10)) === 0)
    val train = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val ix = Similarity.buildEmbeddingIndex(train, "vec_id", "embedding",
      nPlanes = 4, nTables = 64)
    val isEvalA = pmod(col("id_a"), lit(10)) === 0
    val isEvalB = pmod(col("id_b"), lit(10)) === 0
    val pairs = Similarity.incrementalVecDupPairs(evalSet, ix, "vec_id",
        "embedding", threshold = 0.45)
      .filter(isEvalA =!= isEvalB) // cross pairs only: eval-vs-eval is not leakage
      .select(when(isEvalA, col("id_b")).otherwise(col("id_a")).as("train_id"),
        when(isEvalA, col("id_a")).otherwise(col("id_b")).as("eval_id"),
        col("cos_sim"))
    pairs.groupBy("train_id")
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("cos_sim").as("c"), (-col("eval_id")).as("n"))).as("__m"))
      .select(col("train_id"), col("n_eval_hits"),
        col("__m.c").as("max_cos"), (-col("__m.n")).as("worst_eval_id"))
      .orderBy("train_id")
  }

  val dataDecontaminationSemanticSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT t.vec_id AS train_id, q.vec_id AS eval_id,
      |    list_dot_product(t.v, q.v) /
      |      (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(q.v, q.v))) AS cos_sim
      |  FROM e t JOIN e q ON t.vec_id % 10 <> 0 AND q.vec_id % 10 = 0),
      |h AS (SELECT * FROM p WHERE cos_sim >= 0.45),
      |a AS (SELECT train_id, COUNT(*) AS n_eval_hits FROM h GROUP BY 1),
      |w AS (
      |  SELECT train_id, eval_id AS worst_eval_id, cos_sim AS max_cos,
      |    ROW_NUMBER() OVER (PARTITION BY train_id ORDER BY cos_sim DESC, eval_id) AS rn
      |  FROM h)
      |SELECT a.train_id, a.n_eval_hits, w.max_cos, w.worst_eval_id
      |FROM a JOIN w ON w.train_id = a.train_id AND w.rn = 1
      |ORDER BY a.train_id""".stripMargin

  // -- token-distribution drift between corpus snapshots ----------------------
  /** Distribution drift between two corpus snapshots (here the doc_id
    * parity halves — the deterministic stand-in for "last month's crawl
    * vs this month's") — the data-quality monitor a recurring ingest
    * runs before a training mix is refreshed. Drift is measured as
    * total-variation distance over the token unigram distributions,
    * kept EXACT until the last step: per-token `|cnt_a·t_b − cnt_b·t_a|`
    * is integer cross-multiplication (comparing the fractions
    * cnt_a/t_a vs cnt_b/t_b without dividing), summed in
    * decimal(38,0); TV = that sum over 2·t_a·t_b as one double chain.
    * One conditional aggregation builds both snapshots' counts (no
    * self-join of the token stream), 1-row totals broadcast, top-20
    * drifters via TakeOrdered (never a global sort at scale).
    */
  def dataSnapshotDrift(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(
      (pmod(col("doc_id"), lit(2)) === 0).as("is_a"),
      explode(tokenize(col("text"))).as("token"))
    val ct = toks.groupBy("token").agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).as("cnt_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).as("cnt_b"))
    val totals = ct.agg(sum("cnt_a").as("t_a"), sum("cnt_b").as("t_b"))
    // Cross-multiply in DECIMAL(18,0)×DECIMAL(18,0)→DECIMAL(38,0): corpus
    // token totals reach ~1e14 at 100 TB, so a Long product would wrap
    // silently pre-cast. The exact decimal value drives the sum AND the
    // ordering; the emitted column is its double image (decimal output
    // columns hash differently across engines — Spark parquet Decimal vs
    // DuckDB float64 — so decimals never leave the plan).
    val drifted = ct.crossJoin(broadcast(totals))
      .withColumn("drift_exact",
        abs(col("cnt_a").cast("decimal(18,0)") * col("t_b").cast("decimal(18,0)") -
          col("cnt_b").cast("decimal(18,0)") * col("t_a").cast("decimal(18,0)")))
      .withColumn("drift_num", col("drift_exact").cast("double"))
    val tv = drifted
      .agg(sum(col("drift_exact")).as("__num"),
        min("t_a").as("__ta"), min("t_b").as("__tb"))
      .select((col("__num").cast("double") /
        (lit(2.0d) * col("__ta").cast("double") * col("__tb").cast("double")))
        .as("tv_distance"))
    drifted.crossJoin(broadcast(tv))
      .withColumn("share_a", col("cnt_a").cast("double") / col("t_a").cast("double"))
      .withColumn("share_b", col("cnt_b").cast("double") / col("t_b").cast("double"))
      .select("token", "cnt_a", "cnt_b", "share_a", "share_b",
        "drift_num", "drift_exact", "tv_distance")
      .orderBy(col("drift_exact").desc, col("token"))
      .limit(20)
      .drop("drift_exact")
  }

  val dataSnapshotDriftSql: String =
    """WITH toks AS (
      |  SELECT doc_id % 2 = 0 AS is_a,
      |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      |  FROM documents),
      |ct AS (
      |  SELECT token,
      |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
      |    CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      |  FROM toks GROUP BY token),
      |tt AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS t_a, CAST(SUM(cnt_b) AS BIGINT) AS t_b FROM ct),
      |dr AS (
      |  SELECT token, cnt_a, cnt_b, t_a, t_b,
      |    ABS(CAST(cnt_a AS DECIMAL(18,0)) * CAST(t_b AS DECIMAL(18,0)) -
      |        CAST(cnt_b AS DECIMAL(18,0)) * CAST(t_a AS DECIMAL(18,0))) AS drift_exact
      |  FROM ct CROSS JOIN tt),
      |tv AS (
      |  SELECT CAST(SUM(drift_exact) AS DOUBLE) /
      |    (2.0 * CAST(MIN(t_a) AS DOUBLE) * CAST(MIN(t_b) AS DOUBLE)) AS tv_distance
      |  FROM dr)
      |SELECT token, cnt_a, cnt_b,
      |  CAST(cnt_a AS DOUBLE) / CAST(t_a AS DOUBLE) AS share_a,
      |  CAST(cnt_b AS DOUBLE) / CAST(t_b AS DOUBLE) AS share_b,
      |  CAST(drift_exact AS DOUBLE) AS drift_num, tv.tv_distance
      |FROM dr CROSS JOIN tv
      |ORDER BY drift_exact DESC, token
      |LIMIT 20""".stripMargin

  // -- per-source TF-IDF top terms --------------------------------------------
  /** Per-source characteristic terms by TF-IDF — the corpus-profiling
    * pass that tells a curation run what each source is ABOUT (and
    * flags template/boilerplate sources whose top terms are
    * navigation). Score kept in pure integers so both engines rank
    * identically with no float log: `score = (tf · 10⁶ · n_docs) div
    * df` — monotone in tf·(N/df), the fixed-point cousin of
    * tf·idf (the 10⁶ scale preserves resolution through the integer
    * division). Two map-combined aggregations (term frequency per
    * source; document frequency per term), one equi-join on the term,
    * a 1-row corpus-total broadcast, and a per-SOURCE window — sources
    * rank in parallel, no global sort.
    */
  def textTfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val toks = d.select(col("doc_id"), col("source"),
      explode(tokenize(col("text"))).as("term"))
    val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
    val df = toks.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    // The fixed-point numerator tf·10⁶·n_docs wraps Long at corpus scale
    // (tf ~1e12, n_docs ~1e11 at 100 TB), so the whole floor-division runs
    // in DECIMAL: floor(a/b) computed EXACTLY as (a − a mod b)/b — the
    // subtraction makes the quotient an integer, so the decimal division
    // introduces no rounding for either engine. Ranking uses the exact
    // value; the emitted score is its double image (decimal output columns
    // hash differently across engines).
    val numExact = col("tf").cast("decimal(18,0)") *
      lit(1000000L).cast("decimal(18,0)") * col("n_docs").cast("decimal(18,0)")
    val dfDec = col("df").cast("decimal(18,0)")
    val scoreExact = (numExact - pmod(numExact, dfDec)) / dfDec
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score_exact", scoreExact)
      .withColumn("score", col("score_exact").cast("double"))
    val w = Window.partitionBy("source")
      .orderBy(col("score_exact").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("source", "rank", "term", "tf", "df", "score")
      .orderBy("source", "rank")
  }

  val textTfidfTopTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT source, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT term, doc_id FROM toks) GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |sc AS (
      |  SELECT tf.source, tf.term, tf.tf, df.df,
      |    (CAST(tf.tf AS HUGEINT) * 1000000 * n.n_docs) // df.df AS score_exact
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT source, CAST(rnk AS BIGINT) AS rank, term, tf, df,
      |  CAST(score_exact AS DOUBLE) AS score FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY score_exact DESC, term) AS rnk
      |  FROM sc)
      |WHERE rnk <= 5
      |ORDER BY source, rank""".stripMargin

  // -- LM-perplexity quality filter (CCNet-style) -----------------------------
  /** Perplexity-style LM quality filter — the CCNet/Wikipedia-LM pass
    * real pipelines run between rule filters and dedup: train a bigram
    * LM on a clean REFERENCE slice (here the deterministic doc_id%7==0
    * holdout — stands in for "Wikipedia"), score every document by its
    * mean per-token surprise, and gate on it. The surprise is a pure
    * INTEGER log₂: with add-one smoothing the token probability is the
    * rational (c(prev,w)+1)/(c(prev)+V), and
    * `bits = bit_length((c(prev)+V) div (c(prev,w)+1))` =
    * ⌊log₂⌋+1 of the inverse probability — computed via `length(bin(x))`
    * in Spark and `length(format('{:b}', x))` in DuckDB, so both
    * engines agree bit-for-bit with no float log anywhere (the
    * text_rare_token_stats fixed-point precedent). Scale shape: one
    * bigram explode (linear), two map-combined count aggregations over
    * the REFERENCE slice only, two equi-joins of corpus bigrams
    * against those count frames (each linear in reference size — the
    * trained model IS those two frames), a 1-row vocab broadcast for
    * the smoothing denominator, and one per-doc aggregation. No global
    * sort, no all-pairs, nothing quadratic.
    */
  def textLmPerplexity(s: SparkSession, dir: String): DataFrame =
    TextOps.lmSurprise(
        docs(s, dir).select("doc_id", "source", "text"),
        "doc_id", "text", isRef = pmod(col("doc_id"), lit(7)) === 0)
      .withColumn("keep", col("mean_bits") <= lit(11.0))
      .select("doc_id", "source", "n_bigrams", "bits", "mean_bits", "keep")
      .orderBy("doc_id")

  val textLmPerplexitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, t[i] AS prev, t[i + 1] AS w
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
      |ref AS (SELECT prev, w FROM bg WHERE doc_id % 7 = 0),
      |c_pw AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c_pw FROM ref GROUP BY 1, 2),
      |c_p AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_p FROM ref GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT u.tok) AS BIGINT) AS vocab
      |      FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 7 = 0) u),
      |sc AS (
      |  SELECT bg.doc_id,
      |    CAST(length(format('{:b}',
      |      (COALESCE(c_p.c_p, 0) + v.vocab) // (COALESCE(c_pw.c_pw, 0) + 1))) AS BIGINT) AS bits_tok
      |  FROM bg LEFT JOIN c_pw ON bg.prev = c_pw.prev AND bg.w = c_pw.w
      |          LEFT JOIN c_p ON bg.prev = c_p.prev
      |          CROSS JOIN v),
      |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |              CAST(SUM(bits_tok) AS BIGINT) AS bits
      |       FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, d.source,
      |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(pd.bits, 0) AS bits,
      |  CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0.0
      |       ELSE CAST(pd.bits AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE) END AS mean_bits,
      |  CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN TRUE
      |       ELSE CAST(pd.bits AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE) <= 11.0 END AS keep
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** The perplexity filter under the BOUNDED model
    * ([[graft.ops.TextOps.trainLmBounded]], floor 2): bigram types
    * seen once in the reference collapse into per-context `<unk>`
    * rows and sub-floor contexts drop entirely — the KenLM-style
    * min-count prune that keeps the model frame sublinear in a
    * web-scale reference. The algebra stays integer-exact
    * (bits = bit_length((c_p + V) div (coalesce(kept, unk, 0) + 1))),
    * so this oracle re-derives the BOUNDED scores bit-for-bit — the
    * driver gate proves the prune changes exactly what it is specified
    * to change and nothing else.
    */
  def textLmPerplexityBounded(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "source", "text")
    val model = TextOps.trainLmBounded(
      d.filter(pmod(col("doc_id"), lit(7)) === 0), "text", minCount = 2L)
    TextOps.scoreLm(model, d, "doc_id", "text")
      .withColumn("keep", col("mean_bits") <= lit(11.0))
      .select("doc_id", "source", "n_bigrams", "bits", "mean_bits", "keep")
      .orderBy("doc_id")
  }

  val textLmPerplexityBoundedSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, t[i] AS prev, t[i + 1] AS w
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
      |ref AS (SELECT prev, w FROM bg WHERE doc_id % 7 = 0),
      |c_full AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c_pw FROM ref GROUP BY 1, 2),
      |c_pw AS (SELECT * FROM c_full WHERE c_pw >= 2),
      |c_unk AS (SELECT prev, CAST(SUM(c_pw) AS BIGINT) AS c_unk
      |          FROM c_full WHERE c_pw < 2 GROUP BY 1),
      |c_p AS (SELECT prev, CAST(SUM(c_pw) AS BIGINT) AS c_p FROM c_full
      |        GROUP BY 1 HAVING SUM(c_pw) >= 2),
      |v AS (SELECT CAST(COUNT(DISTINCT u.tok) AS BIGINT) AS vocab
      |      FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 7 = 0) u),
      |sc AS (
      |  SELECT bg.doc_id,
      |    CAST(length(format('{:b}',
      |      (COALESCE(c_p.c_p, 0) + v.vocab)
      |        // (COALESCE(c_pw.c_pw, c_unk.c_unk, 0) + 1))) AS BIGINT) AS bits_tok
      |  FROM bg LEFT JOIN c_pw ON bg.prev = c_pw.prev AND bg.w = c_pw.w
      |          LEFT JOIN c_unk ON bg.prev = c_unk.prev
      |          LEFT JOIN c_p ON bg.prev = c_p.prev
      |          CROSS JOIN v),
      |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |              CAST(SUM(bits_tok) AS BIGINT) AS bits
      |       FROM sc GROUP BY doc_id)
      |SELECT d.doc_id, d.source,
      |  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(pd.bits, 0) AS bits,
      |  CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0.0
      |       ELSE CAST(pd.bits AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE) END AS mean_bits,
      |  CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN TRUE
      |       ELSE CAST(pd.bits AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE) <= 11.0 END AS keep
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // -- CCNet head/middle/tail perplexity buckets ------------------------------
  /** The step CCNet actually ships after LM scoring: split each
    * source's documents into HEAD / MIDDLE / TAIL terciles by LM
    * surprise (head = most reference-like; real pipelines train on
    * head+middle and drop or downweight tail). Buckets are per-SOURCE
    * exact terciles with a GIANT-SOURCE auto-switch: a source below
    * `giantSourceThreshold` docs ranks with the per-source ntile
    * window (the data_source_caps/tfidf pattern — sources sort in
    * parallel, each inside one task chain), while a source at or above
    * it switches to the distributive cutpoint mode the curriculum rows
    * use ([[graft.ops.Buckets.ntileByHistogram]] partitioned by
    * source) — identical buckets (tie regimes included, proven against
    * the same NTILE oracle and by LmPropertySpec), but the dominant
    * source's cost becomes histogram + boundary-group sorts instead of
    * one task sorting the whole source. That matters precisely when it
    * hurts: at 100 TB "common-crawl" is ONE source. The plan choice is
    * a driver-side control read of per-source doc counts off the raw
    * documents frame — one row per source, column-pruned, never
    * recomputes LM scores (the Conveyor/Bpe control-plane precedent).
    * Output is the per-(source, bucket) accounting frame a mix planner
    * consumes: doc/bigram counts and the surprise range per bucket.
    * Ordering ties (equal mean_bits) break on doc_id, so both engines
    * agree exactly; mean_bits itself is the same IEEE division on both
    * sides.
    */
  def textLmBuckets(s: SparkSession, dir: String): DataFrame =
    textLmBucketsMode(s, dir, giantSourceThreshold = 1L << 20)

  /** Forced scale mode (threshold 0 ⇒ every source is "giant") —
    * held to the SAME NTILE(3) SQL oracle as [[textLmBuckets]], the
    * row-57/row-48 precedent: the driver gate itself proves the
    * range-rank path ≡ ntile terciles, ties included.
    */
  def textLmBucketsRanged(s: SparkSession, dir: String): DataFrame =
    textLmBucketsMode(s, dir, giantSourceThreshold = 0L)

  private def textLmBucketsMode(s: SparkSession, dir: String,
      giantSourceThreshold: Long): DataFrame =
    // NO fan-out here (r15, measured +36-41%): lmBucketsOn opens with a
    // driver control read of per-source counts, which column-prunes the
    // raw scan to almost nothing — a round-robin exchange underneath it
    // would shuffle full text rows before the pruned count can run.
    lmBucketsOn(docs(s, dir).select("doc_id", "source", "text"),
      giantSourceThreshold)

  /** The full scoring + auto-switched bucketing over any
    * (doc_id, source, text) frame — ScaleSmoke drives this with a
    * one-dominant-source remap, the regime the fallback exists for.
    */
  /** The giant-source plan choice as ONE bounded control read: per-
    * group counts aggregate server-side, the giants filter runs INSIDE
    * the aggregate (`collect_list` over a `when` — nulls never enter
    * the list), and the total group count rides the same single output
    * row. The driver therefore holds O(giants), never O(distinct
    * groups): under a domain-granularity source column the distinct
    * count is millions, but sources that big enough to matter are by
    * definition few. Returns (giant groups, all-giant?) — the all-
    * giant regime plans the range leg ALONE, so no empty window leg
    * lingers in the plan. Degenerate threshold 0 (the forced test
    * mode) does collect every group name — that mode exists only to
    * let the driver oracle prove leg equivalence.
    */
  private[graft] def giantSourceSplit(d: DataFrame, groupCol: String,
      giantThreshold: Long): (Set[String], Boolean) = {
    val (giants, allGiant) =
      graft.ops.Buckets.giantGroups(d, groupCol, giantThreshold)
    (giants.map(_.asInstanceOf[String]).toSet, allGiant)
  }

  private[graft] def lmBucketsOn(d: DataFrame,
      giantSourceThreshold: Long): DataFrame = {
    val scored0 = TextOps.lmSurprise(
      d, "doc_id", "text", isRef = pmod(col("doc_id"), lit(7)) === 0)
    val (giants, allGiant) =
      giantSourceSplit(d.select("source"), "source", giantSourceThreshold)
    // range-rank consumes the scored frame from multiple subtrees (the
    // local-rank leg, the counts control frame, and in mixed mode the
    // window leg): materialize it ONCE so none of them can replay the
    // full scoring lineage (the semanticDedup precedent). The pure
    // window mode has a single consumer — no barrier there.
    val scored =
      if (giants.nonEmpty) graft.ops.Materialize.barrier(scored0) else scored0
    lmTercileBuckets(scored, giants, allGiant)
  }

  /** Bucket + aggregate a scored frame (doc_id, source, n_bigrams,
    * bits, mean_bits): `giantSources` take the RANGE-RANK path
    * ([[graft.ops.Buckets.ntileByRange]] partitioned by source), the
    * rest the per-source ntile window; both are exact NTILE(3) OVER
    * (PARTITION BY source ORDER BY mean_bits, doc_id). Range-rank,
    * not the curriculum rows' ntileByHistogram: mean_bits is a
    * CONTINUOUS double, so the distinct-value histogram degenerates
    * to ~source size (measured slower than the window it replaces at
    * 100× — SCALE.md round 11), while range partitioning splits the
    * dominant source across tasks regardless of score cardinality.
    * Exposed to LmPropertySpec, which asserts path-equivalence on
    * skewed/tied fixtures.
    */
  private[graft] def lmTercileBuckets(scored: DataFrame,
      giantSources: Set[String], allGiant: Boolean = false): DataFrame = {
    val labels = array(lit("head"), lit("middle"), lit("tail"))
    def viaWindow(df: DataFrame) = {
      val w = Window.partitionBy("source")
        .orderBy(col("mean_bits"), col("doc_id"))
      df.withColumn("bucket", element_at(labels, ntile(3).over(w)))
    }
    def viaRangeRank(df: DataFrame) =
      Buckets.ntileByRange(df, "mean_bits", "doc_id", 3, Seq("source"))
        .withColumn("bucket", element_at(labels, col("bucket").cast("int")))
    val bucketed =
      if (giantSources.isEmpty) viaWindow(scored)
      else if (allGiant) viaRangeRank(scored)
      else viaRangeRank(scored.filter(
          coalesce(col("source").isInCollection(giantSources), lit(false))))
        .unionByName(viaWindow(scored.filter(
          !coalesce(col("source").isInCollection(giantSources), lit(false)))))
    bucketed
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        sum("bits").as("bits"),
        min("mean_bits").as("lo_bits"),
        max("mean_bits").as("hi_bits"))
      .orderBy("source", "bucket")
  }

  val textLmBucketsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, t[i] AS prev, t[i + 1] AS w
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
      |ref AS (SELECT prev, w FROM bg WHERE doc_id % 7 = 0),
      |c_pw AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c_pw FROM ref GROUP BY 1, 2),
      |c_p AS (SELECT prev, CAST(SUM(c_pw) AS BIGINT) AS c_p FROM c_pw GROUP BY 1),
      |v AS (SELECT CAST(COUNT(DISTINCT u.tok) AS BIGINT) AS vocab
      |      FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 7 = 0) u),
      |sc AS (
      |  SELECT bg.doc_id,
      |    CAST(length(format('{:b}',
      |      (COALESCE(c_p.c_p, 0) + v.vocab) // (COALESCE(c_pw.c_pw, 0) + 1))) AS BIGINT) AS bits_tok
      |  FROM bg LEFT JOIN c_pw ON bg.prev = c_pw.prev AND bg.w = c_pw.w
      |          LEFT JOIN c_p ON bg.prev = c_p.prev
      |          CROSS JOIN v),
      |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |              CAST(SUM(bits_tok) AS BIGINT) AS bits
      |       FROM sc GROUP BY doc_id),
      |scored AS (
      |  SELECT d.doc_id, d.source,
      |    COALESCE(pd.n_bigrams, 0) AS n_bigrams,
      |    COALESCE(pd.bits, 0) AS bits,
      |    CASE WHEN COALESCE(pd.n_bigrams, 0) = 0 THEN 0.0
      |         ELSE CAST(pd.bits AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE) END AS mean_bits
      |  FROM documents d LEFT JOIN pd USING (doc_id)),
      |b AS (
      |  SELECT *, (['head', 'middle', 'tail'])[
      |      NTILE(3) OVER (PARTITION BY source ORDER BY mean_bits, doc_id)] AS bucket
      |  FROM scored)
      |SELECT source, bucket, COUNT(*) AS n_docs,
      |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(bits) AS BIGINT) AS bits,
      |  MIN(mean_bits) AS lo_bits, MAX(mean_bits) AS hi_bits
      |FROM b GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin

  // -- Z-order layout key ------------------------------------------------------
  /** [[graft.ops.Layout.zOrderKey]] — Morton-interleaved layout key
    * over (n_tokens, n_chars) plus the locality AUDIT that justifies
    * it: bucketing the curve's top 6 bits (64 z-ranges) bounds the
    * span of BOTH dimensions inside every bucket, which is exactly why
    * a z-sorted write prunes files on either predicate. Key and
    * quantization are pure per-row bit expressions (zero shuffle);
    * the audit is one 64-group aggregate joined back. The oracle
    * restates the interleave formula bit for bit.
    */
  def dataZorderLayout(s: SparkSession, dir: String): DataFrame = {
    // fan-out (r15): the tokenize+interleave chain ran as serial
    // scan-fused tasks once per leg (audit + projection); integer
    // min/max/count only. Identity at scale (see fanOutNarrowScan).
    val d = graft.ops.Skew.fanOutNarrowScan(
        docs(s, dir).select("doc_id", "text", "n_chars"))
      .withColumn("qa", least(size(tokenize(col("text"))).cast("long"), lit(255L)))
      .withColumn("qb", least(expr("n_chars div 4"), lit(255L)))
      .withColumn("zval", graft.ops.Layout.zOrderKey(col("qa"), col("qb"), bits = 8))
      .withColumn("bucket", expr("zval div 1024"))
    val audit = d.groupBy("bucket").agg(
      count(lit(1)).as("bucket_n"),
      (max("qa") - min("qa")).as("span_a"),
      (max("qb") - min("qb")).as("span_b"))
    d.select("doc_id", "qa", "qb", "zval", "bucket")
      .join(audit, "bucket")
      .select("doc_id", "qa", "qb", "zval", "bucket", "bucket_n", "span_a", "span_b")
      .orderBy("doc_id")
  }

  val dataZorderLayoutSql: String = {
    val interleave = (0 until 8).map(i =>
      s"(((qa >> $i) & 1) << ${2 * i + 1}) + (((qb >> $i) & 1) << ${2 * i})")
      .mkString(" + ")
    s"""WITH z AS (
      |  SELECT doc_id,
      |    LEAST(CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT), 255) AS qa,
      |    LEAST(n_chars // 4, 255) AS qb
      |  FROM documents),
      |k AS (SELECT doc_id, qa, qb, CAST($interleave AS BIGINT) AS zval FROM z),
      |kb AS (SELECT *, zval // 1024 AS bucket FROM k),
      |a AS (
      |  SELECT bucket, COUNT(*) AS bucket_n,
      |    MAX(qa) - MIN(qa) AS span_a, MAX(qb) - MIN(qb) AS span_b
      |  FROM kb GROUP BY bucket)
      |SELECT kb.doc_id, kb.qa, kb.qb, kb.zval, kb.bucket,
      |  a.bucket_n, a.span_a, a.span_b
      |FROM kb JOIN a USING (bucket)
      |ORDER BY kb.doc_id""".stripMargin
  }

  // -- KMV distinct-count sketch ----------------------------------------------
  /** [[graft.ops.Sketches.kmvEstimates]] — per-source KMV (k-minimum-
    * values) distinct-document sketches plus a `__ALL__` scope built
    * from the SAME hash set, demonstrating the merge property (the
    * union's sketch is the k smallest of the union — exactly what the
    * associative partial combine computes at scale). k=32 so the bound
    * scopes genuinely estimate (expected |rel_err| ≈ 1/√(k−2) ≈ 18 %)
    * while small sources fall back to the exact rule. Deterministic
    * end to end — the oracle re-derives the hash, the k-th minimum and
    * the one-division estimate bit-for-bit, so the sketch's error is
    * AUDITED, not trusted.
    */
  def sketchDistinctKmv(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir).select(col("source"),
      graft.ops.Sketches.uniformHash(lower(trim(col("text")))).as("h"))
    val scoped = hashed.select(col("source").as("scope"), col("h"))
      .unionByName(hashed.select(lit("__ALL__").as("scope"), col("h")))
    graft.ops.Sketches.kmvEstimates(scoped, k = 32).orderBy("scope")
  }

  val sketchDistinctKmvSql: String =
    """WITH hs AS (
      |  SELECT source, CAST(concat('0x', substr(md5(lower(trim(text))), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |sc AS (
      |  SELECT DISTINCT scope, h FROM (
      |    SELECT source AS scope, h FROM hs
      |    UNION ALL
      |    SELECT '__ALL__' AS scope, h FROM hs)),
      |rk AS (
      |  SELECT scope, h, ROW_NUMBER() OVER (PARTITION BY scope ORDER BY h) AS rn
      |  FROM sc),
      |sk AS (
      |  SELECT scope, MAX(h) AS kth_hash, COUNT(*) AS sketch_size
      |  FROM rk WHERE rn <= 32 GROUP BY scope),
      |ex AS (SELECT scope, COUNT(*) AS n_exact FROM sc GROUP BY scope)
      |SELECT ex.scope, ex.n_exact, sk.sketch_size, sk.kth_hash,
      |  CASE WHEN sk.sketch_size < 32 THEN CAST(ex.n_exact AS DOUBLE)
      |       ELSE 31.0 * (1152921504606846976.0 / CAST(sk.kth_hash AS DOUBLE))
      |  END AS est,
      |  ABS(CASE WHEN sk.sketch_size < 32 THEN CAST(ex.n_exact AS DOUBLE)
      |           ELSE 31.0 * (1152921504606846976.0 / CAST(sk.kth_hash AS DOUBLE))
      |      END - CAST(ex.n_exact AS DOUBLE)) / CAST(ex.n_exact AS DOUBLE) AS rel_err
      |FROM ex JOIN sk USING (scope)
      |ORDER BY ex.scope""".stripMargin

  // -- sampled quantile sketch (mergeable bottom-k) -----------------------------
  /** [[graft.ops.Sketches.sampledQuantiles]] — per-source APPROXIMATE
    * length quantiles from a mergeable bottom-k-by-hash sample (k=64),
    * with the exact row-91 answer joined alongside so the sketch's
    * error is AUDITED, not trusted — the quantile complement of the
    * KMV row (row 69's precedent: deterministic md5 hashing + integer
    * ranks, so the oracle re-derives sample membership AND both
    * quantile selections bit-for-bit). The `__ALL__` scope is built
    * from the same hash set, demonstrating the merge property the
    * streaming monitor ([[graft.ops.StreamingQuantiles]]) folds with:
    * at 100 TB the k-row samples ARE the state — per-source quantiles
    * at any trigger without re-scanning the corpus.
    */
  def sketchQuantilesSampled(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir).select(col("source"),
      graft.ops.Sketches.uniformHash(col("doc_id").cast("string")).as("h"),
      col("n_chars").cast("long").as("v"))
    val scoped = hashed.select(col("source").as("scope"), col("h"), col("v"))
      .unionByName(hashed.select(lit("__ALL__").as("scope"), col("h"), col("v")))
    graft.ops.Sketches.sampledQuantiles(scoped, k = 64,
        qs = Seq(0.25, 0.5, 0.9, 0.99))
      .orderBy("scope", "q")
  }

  val sketchQuantilesSampledSql: String =
    """WITH sc AS (
      |  SELECT source AS scope,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
      |    CAST(n_chars AS BIGINT) AS v
      |  FROM documents
      |  UNION ALL
      |  SELECT '__ALL__',
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
      |    CAST(n_chars AS BIGINT)
      |  FROM documents),
      |smp AS (
      |  SELECT scope, h, v,
      |    ROW_NUMBER() OVER (PARTITION BY scope ORDER BY h, v) AS hr
      |  FROM sc),
      |s64 AS (SELECT scope, h, v FROM smp WHERE hr <= 64),
      |m AS (SELECT scope, CAST(COUNT(*) AS BIGINT) AS m FROM s64 GROUP BY scope),
      |sv AS (
      |  SELECT scope, v,
      |    ROW_NUMBER() OVER (PARTITION BY scope ORDER BY v, h) AS vr
      |  FROM s64),
      |qv AS (SELECT * FROM (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.50 AS DOUBLE)),
      |    (CAST(0.90 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) AS t(q)),
      |est AS (
      |  SELECT m.scope, qv.q, sv.v AS est
      |  FROM m CROSS JOIN qv
      |  JOIN sv ON sv.scope = m.scope
      |    AND sv.vr = CAST(CEIL(qv.q * CAST(m.m AS DOUBLE)) AS BIGINT)),
      |r AS (
      |  SELECT scope, v,
      |    ROW_NUMBER() OVER (PARTITION BY scope ORDER BY v, h) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY scope) AS BIGINT) AS n
      |  FROM sc),
      |ex AS (
      |  SELECT r.scope, qv.q, r.v AS exact
      |  FROM r CROSS JOIN qv
      |  WHERE r.rn = CAST(CEIL(qv.q * CAST(r.n AS DOUBLE)) AS BIGINT))
      |SELECT est.scope, est.q, est.est, ex.exact, est.est - ex.exact AS err
      |FROM est JOIN ex ON est.scope = ex.scope AND est.q = ex.q
      |ORDER BY est.scope, est.q""".stripMargin

  // -- deterministic per-source uniform document sample -------------------------
  /** [[graft.ops.Sketches.bottomKSample]] carrying PAYLOAD columns —
    * the k-docs-per-source uniform sample every training pipeline
    * needs for eval slices and spot debugging. Hash-determined
    * membership (smallest md5-derived doc hashes) means the sample is
    * a pure function of the data: identical across engines,
    * partitionings, replays AND snapshots (a doc's membership never
    * flips unless k-th-hash displacement pushes it out — the stable
    * eval-set property random sampling lacks), and mergeable across
    * corpus increments (union's bottom-k = bottom-k of bottom-ks), so
    * nightly snapshots maintain the sample in O(k) per source without
    * re-scanning. The plan never sorts a scope: per-partition local
    * bottom-k, then a ≤k·P control-frame pass.
    */
  def dataSampleUniformK(s: SparkSession, dir: String): DataFrame = {
    val scoped = docs(s, dir).select(col("source").as("scope"),
      graft.ops.Sketches.uniformHash(col("doc_id").cast("string")).as("h"),
      col("doc_id").as("v"), col("n_chars"), col("lang"))
    graft.ops.Sketches.bottomKSample(scoped, k = 8)
      .select(col("scope").as("source"), col("rank").cast("long").as("rank"),
        col("v").as("doc_id"), col("n_chars"), col("lang"))
      .orderBy("source", "rank")
  }

  val dataSampleUniformKSql: String =
    """WITH h AS (
      |  SELECT source, doc_id, n_chars, lang,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, n_chars, lang,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
      |  FROM h)
      |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_chars, lang
      |FROM r WHERE rank <= 8
      |ORDER BY source, rank""".stripMargin

  // -- deterministic per-source WEIGHTED document sample -----------------------
  /** Length-weighted k-docs-per-source sample — the weighted
    * counterpart of [[dataSampleUniformK]] (training pipelines sample
    * eval/inspection slices proportional to token mass, not doc
    * count). Weighted-without-replacement via the classic DUPLICATION
    * scheme: a doc with integer weight w holds w tickets; its sampling
    * key is the MINIMUM of the w ticket hashes, so P(doc drawn first)
    * = w/Σw exactly (min of w uniforms ~ Beta(1, w)), and successive
    * ranks follow the without-replacement recursion — the
    * integer-exact stand-in for Efraimidis–Spirakis exponential keys
    * (WRS-2006), whose −ln(u)/w keys would hang cross-engine
    * determinism on transcendental rounding. The min-of-tickets is ONE
    * codegen'd per-row array expression (`array_min(transform(
    * sequence(1, w), …))`) — no explode, no pre-shuffle, cost = w ≤ 8
    * md5s per row — and the key then rides [[graft.ops.Sketches.bottomKSample]]'s
    * mergeable two-stage machinery: membership is a pure function of
    * the data (engine/partitioning/replay-stable), samples merge
    * across corpus increments, and no scope is ever sorted.
    */
  def dataSampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val weight = least(greatest(
      expr("(coalesce(n_chars, 0) - 1) div 100") + lit(1), lit(1)), lit(8))
      .cast("int")
    val ticketMin = array_min(transform(
      sequence(lit(1), weight),
      t => graft.ops.Sketches.uniformHash(
        concat(col("doc_id").cast("string"), lit(":"), t.cast("string")))))
    val scoped = docs(s, dir).select(col("source").as("scope"),
      ticketMin.as("h"), col("doc_id").as("v"), weight.as("weight"),
      col("n_chars"))
    graft.ops.Sketches.bottomKSample(scoped, k = 8)
      .select(col("scope").as("source"), col("rank").cast("long").as("rank"),
        col("v").as("doc_id"), col("weight"), col("n_chars"))
      .orderBy("source", "rank")
  }

  val dataSampleWeightedSql: String =
    """WITH w AS (
      |  SELECT source, doc_id, n_chars,
      |    CAST(least(greatest((coalesce(n_chars, 0) - 1) // 100 + 1, 1), 8) AS INT) AS weight
      |  FROM documents),
      |k AS (
      |  SELECT source, doc_id, n_chars, weight,
      |    list_min(list_transform(generate_series(1, weight),
      |      t -> CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(t AS VARCHAR)), 1, 15)) AS BIGINT))) AS h
      |  FROM w),
      |r AS (
      |  SELECT source, doc_id, n_chars, weight,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
      |  FROM k)
      |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, weight, n_chars
      |FROM r WHERE rank <= 8
      |ORDER BY source, rank""".stripMargin

  // -- exact heavy hitters (Misra-Gries prefilter + recount) -------------------
  /** [[graft.ops.Frequency.heavyHitters]] — every bigram holding ≥ 0.1 %
    * of all bigram occurrences, with EXACT counts. The scale plan is
    * the two-pass candidates-then-recount shape: a mergeable
    * Misra-Gries summary (one ≤k-counter state per partition, merged
    * via Spark's partial aggregation — the shuffle carries k·P summary
    * entries, never the per-partition vocabulary, which under Zipf is
    * the long tail that can never clear the threshold anyway) names a
    * guaranteed SUPERSET of the heavy hitters; a recount pass filtered
    * to those ≤k candidates (broadcast hash-set probe) restores exact
    * counts, so the sketch bounds COST while the output stays
    * bit-identical to the naive groupBy — which is what the oracle
    * runs.
    */
  def sketchHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // fan-out (r15): the MG summary and the recount pass each re-run
    // the bigram explode against the 1-split scan; exact counts.
    val grams = TextOps.bigrams(
      graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("text")), "text")
      .select(concat_ws(" ", col("prev"), col("w")).as("gram"))
    graft.ops.Frequency.heavyHitters(grams, "gram", minShare = 0.001, k = 4096)
      .orderBy(col("cnt").desc, col("gram"))
  }

  val sketchHeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bg AS (
      |  SELECT t[i] || ' ' || t[i + 1] AS gram
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bg),
      |c AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY gram)
      |SELECT c.gram, c.cnt, CAST(c.cnt AS DOUBLE) / CAST(n.n AS DOUBLE) AS share
      |FROM c, n
      |WHERE c.cnt >= CAST(ceil(CAST(0.001 AS DOUBLE) * CAST(n.n AS DOUBLE)) AS BIGINT)
      |ORDER BY c.cnt DESC, c.gram""".stripMargin

  // -- Count-Min sketch point-frequency estimates -------------------------------
  /** [[graft.ops.CountMin]] — d×w counter sketch over the token
    * stream, probed at the exact top-20 tokens with the true counts
    * joined alongside so the sketch's one-sided error is AUDITED
    * (overcount = est − exact ≥ 0, the CMS guarantee). The dual of
    * [[sketchHeavyHitters]]' Misra-Gries pass: MG names heavy-hitter
    * candidates with undercount-only state, CMS answers a point query
    * for ANY token with overcount-only counters that merge by pure
    * addition — the build's shuffle carries ≤ d·w cells per partition
    * whatever the vocabulary (never the Zipf tail a `groupBy(token)`
    * would move). The exact leg exists to audit the sketch at test
    * scale; at 100 TB you keep only the d·w counters (and the probe
    * join stays a broadcast of a control-frame-sized counter table).
    */
  def sketchCountMin(s: SparkSession, dir: String): DataFrame = {
    val p = graft.ops.CountMin.Params(d = 3, w = 64)
    // fan-out (r15 stage audit): the tokenize+md5-cell chain ran as one
    // 1.7 s scan-fused task, once per leg (counters + exact probe); the
    // shared exchange spreads it and evaluates the scan once. Integer
    // counts only. Identity at scale (see fanOutNarrowScan).
    val toks = graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("text"))
      .select(explode(TextOps.tokens(col("text"))).as("item"))
      .filter(length(col("item")) > 0)
    val ctrs = graft.ops.CountMin.counters(toks, "item", p)
    val probes = toks.groupBy("item").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("item")).limit(20)
    probes.join(graft.ops.CountMin.estimates(probes.select("item"), ctrs, p),
        Seq("item"))
      .select(col("item").as("token"), col("exact_cnt"), col("est"),
        (col("est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }

  val sketchCountMinSql: String =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS item
      |  FROM documents),
      |t AS (SELECT item FROM toks WHERE length(item) > 0),
      |rs AS (SELECT * FROM (VALUES (0), (1), (2)) AS v(r)),
      |cells AS (
      |  SELECT rs.r,
      |    CAST(concat('0x', substr(md5(CAST(rs.r AS VARCHAR) || ':' || t.item), 1, 15)) AS BIGINT) % 64 AS bucket
      |  FROM t CROSS JOIN rs),
      |ctrs AS (SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY r, bucket),
      |exact AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM t GROUP BY item),
      |probes AS (SELECT item, exact_cnt FROM exact ORDER BY exact_cnt DESC, item LIMIT 20),
      |pcells AS (
      |  SELECT p.item, p.exact_cnt, rs.r,
      |    CAST(concat('0x', substr(md5(CAST(rs.r AS VARCHAR) || ':' || p.item), 1, 15)) AS BIGINT) % 64 AS bucket
      |  FROM probes p CROSS JOIN rs),
      |est AS (
      |  SELECT pc.item, pc.exact_cnt, MIN(coalesce(ctrs.c, 0)) AS est
      |  FROM pcells pc LEFT JOIN ctrs ON ctrs.r = pc.r AND ctrs.bucket = pc.bucket
      |  GROUP BY pc.item, pc.exact_cnt)
      |SELECT item AS token, exact_cnt, CAST(est AS BIGINT) AS est,
      |  CAST(est - exact_cnt AS BIGINT) AS overcount
      |FROM est ORDER BY exact_cnt DESC, token""".stripMargin

  // -- exact distributed quantiles ---------------------------------------------
  /** [[graft.ops.Buckets.quantilesByRange]] — per-source EXACT discrete
    * quantiles (p25/p50/p75/p95 of document length) with NO per-source
    * sort: the same distributed-rank machinery as the ntile/prefix-sum
    * fallbacks selects the row at rank ⌈q·n⌉ per source, so a dominant
    * source's quantiles never become one task's sort (and with empty
    * partCols the same call is a GLOBAL exact median at 100 TB — the
    * shape a naive `ORDER BY` plan serializes into a single task).
    * Discrete (percentile_disc) semantics keep it oracle-exact for any
    * value type.
    */
  def dataQuantilesExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Buckets.quantilesByRange(
      docs(s, dir).select("source", "doc_id", "n_chars"),
      "n_chars", "doc_id", Seq(0.25, 0.5, 0.75, 0.95), Seq("source"))
      .orderBy("source", "q")

  val dataQuantilesExactSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM documents),
      |qv AS (SELECT * FROM (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.50 AS DOUBLE)),
      |  (CAST(0.75 AS DOUBLE)), (CAST(0.95 AS DOUBLE))) v(q))
      |SELECT r.source, qv.q, r.n_chars AS value
      |FROM r JOIN qv ON r.rn = CAST(ceil(qv.q * CAST(r.n AS DOUBLE)) AS BIGINT)
      |ORDER BY r.source, qv.q""".stripMargin

  // -- robust per-source length trimming ---------------------------------------
  /** Per-source robust outlier trim — the standard curation step that
    * drops the length tails (truncated fragments, concatenation blobs)
    * BEFORE computing corpus statistics: keep docs whose length sits
    * inside the source's exact [p05, p95]. Composes
    * [[graft.ops.Buckets.quantilesByRange]] (no per-source sort — the
    * dominant-source story of row 91) with a broadcast bounds join:
    * the bounds frame is one row per source, so the trim itself is a
    * zero-shuffle map-side filter, and the audit is one aggregate.
    * Rank-based (percentile_disc) bounds keep it oracle-exact.
    */
  def dataLengthTrim(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bounds = graft.ops.Buckets.quantilesByRange(
        d.select("source", "doc_id", "n_chars"),
        "n_chars", "doc_id", Seq(0.05, 0.95), Seq("source"))
      .groupBy("source")
      .agg(max(when(col("q") === 0.05, col("value"))).as("lo"),
        max(when(col("q") === 0.95, col("value"))).as("hi"))
    d.join(broadcast(bounds), "source")
      .groupBy("source", "lo", "hi")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars").between(col("lo"), col("hi")), 1L)
          .otherwise(0L)).cast("long").as("n_kept"))
      .select("source", "n_docs", "n_kept", "lo", "hi")
      .orderBy("source")
  }

  val dataLengthTrimSql: String =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM documents),
      |b AS (
      |  SELECT source,
      |    MAX(CASE WHEN rn = CAST(ceil(CAST(0.05 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)
      |        THEN n_chars END) AS lo,
      |    MAX(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)
      |        THEN n_chars END) AS hi
      |  FROM r GROUP BY source)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  b.lo, b.hi
      |FROM documents d JOIN b USING (source)
      |GROUP BY d.source, b.lo, b.hi
      |ORDER BY d.source""".stripMargin

  // -- int8 embedding quantization --------------------------------------------
  /** Per-vector affine int8 quantization — the serving/storage
    * compression pass (4× smaller than float32, cheap SIMD dot
    * products downstream): `scale = (max−min)/255`, `q_i =
    * round((x_i−min)/scale)` ∈ [0,255], stored with `(lo, scale)` for
    * dequantization, plus a max-abs reconstruction-error audit column
    * the pipeline gates on. Pure per-row codegen'd expressions — no
    * shuffle at all, the one truly embarrassingly-parallel stage.
    *
    * Oracle parity: lo/hi are exact float→double; scale is one double
    * division; q rounds a nonnegative argument (HALF_UP ≡ DuckDB's
    * half-away-from-zero for ≥0); the error audit MAXes per-element
    * doubles (max is order-independent, unlike a sum). The q array
    * crosses the compare as an md5 fingerprint of its comma-joined
    * values. Constant vectors (hi = lo) quantize to all-zero at
    * scale 0, guarded on both sides.
    */
  def embeddingQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id"),
        expr("array_min(transform(embedding, x -> cast(x as double)))").as("lo"),
        expr("array_max(transform(embedding, x -> cast(x as double)))").as("hi"),
        col("embedding"))
      .withColumn("scale", (col("hi") - col("lo")) / lit(255.0d))
      .withColumn("__q", expr("CASE WHEN hi = lo " +
        "THEN transform(embedding, x -> CAST(0 AS BIGINT)) " +
        "ELSE transform(embedding, x -> " +
        "cast(round((cast(x as double) - lo) / scale) as bigint)) END"))
      .withColumn("q_fp", md5(concat_ws(",",
        expr("transform(__q, v -> cast(v as string))"))))
      .withColumn("max_err", expr("array_max(zip_with(__q, embedding, " +
        "(q, x) -> abs(q * scale + lo - cast(x as double))))"))
      .select("vec_id", "lo", "hi", "scale", "q_fp", "max_err")
      .orderBy("vec_id")

  val embeddingQuantizeInt8Sql: String =
    """WITH ex AS (
      |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
      |mm AS (SELECT vec_id, MIN(x) AS lo, MAX(x) AS hi FROM ex GROUP BY 1),
      |sc AS (SELECT vec_id, lo, hi, (hi - lo) / 255.0 AS scale FROM mm),
      |qv AS (
      |  SELECT ex.vec_id, ex.i, sc.lo, sc.scale,
      |    CASE WHEN sc.hi = sc.lo THEN CAST(0 AS BIGINT)
      |         ELSE CAST(ROUND((ex.x - sc.lo) / sc.scale) AS BIGINT) END AS q,
      |    ex.x
      |  FROM ex JOIN sc USING (vec_id))
      |SELECT sc.vec_id, sc.lo, sc.hi, sc.scale,
      |  a.q_fp, a.max_err
      |FROM sc JOIN (
      |  SELECT vec_id,
      |    md5(string_agg(CAST(q AS VARCHAR), ',' ORDER BY i)) AS q_fp,
      |    MAX(ABS(q * scale + lo - x)) AS max_err
      |  FROM qv GROUP BY vec_id) a USING (vec_id)
      |ORDER BY sc.vec_id""".stripMargin

  // -- sequence packing into token-budget chunks ------------------------------
  /** Pack documents into ~`budget`-token training chunks per source, in
    * deterministic doc order: chunk id = floor(exclusive-running-token-
    * sum / budget). A source below `giantSourceThreshold` docs takes
    * the per-source window (sources pack in parallel, each inside one
    * task chain); a source at or above it switches to the DISTRIBUTED
    * prefix sum ([[graft.ops.Buckets.runningSumByRange]]) — identical
    * chunk ids (the exclusive prefix is the inclusive prefix minus the
    * row's own tokens, exact integer algebra on both paths), but the
    * dominant source's cost becomes range partitions + a broadcast
    * carry frame instead of ONE task scanning the whole source under
    * an unbounded-preceding window. At 100 TB "common-crawl" is one
    * source — the window shape this fallback exists to kill (the
    * text_lm_buckets precedent, applied to the last source-keyed
    * unbounded window in the repo). Plan choice is the bounded
    * giants-only control read ([[giantSourceSplit]]).
    */
  def dataPackSequences(s: SparkSession, dir: String): DataFrame =
    packSequencesMode(s, dir, giantSourceThreshold = 1L << 20)

  /** Forced scale mode (threshold 0 ⇒ every source is "giant") — held
    * to the SAME SQL oracle as [[dataPackSequences]]: the driver gate
    * itself proves distributed-prefix-sum packing ≡ the window packer.
    */
  def dataPackSequencesRanged(s: SparkSession, dir: String): DataFrame =
    packSequencesMode(s, dir, giantSourceThreshold = 0L)

  private[graft] def packSequencesMode(s: SparkSession, dir: String,
      giantSourceThreshold: Long): DataFrame =
    packSequencesOn(docs(s, dir).select(col("source"), col("doc_id"),
      size(tokenize(col("text"))).cast("long").as("__toks")),
      giantSourceThreshold)

  /** Pack any (source, doc_id, __toks) frame — ScaleSmoke drives this
    * with a one-dominant-source remap, the regime the fallback exists
    * for. The mixed mode's two legs filter DISJOINT source sets, so
    * together they tokenize each row exactly once; the control read is
    * a column-pruned count of `source` alone.
    */
  private[graft] def packSequencesOn(d: DataFrame,
      giantSourceThreshold: Long): DataFrame = {
    val budget = 256L
    val (giants, allGiant) =
      giantSourceSplit(d.select("source"), "source", giantSourceThreshold)
    def viaWindow(df: DataFrame) = {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("__excl", coalesce(sum(col("__toks")).over(w), lit(0L)))
    }
    def viaRange(df: DataFrame) =
      Buckets.runningSumByRange(df, "__toks", "doc_id", "doc_id",
          Seq("source"), "__incl")
        .withColumn("__excl", col("__incl") - col("__toks"))
        .drop("__incl")
    val pre =
      if (giants.isEmpty) viaWindow(d)
      else if (allGiant) viaRange(d)
      else viaRange(d.filter(
          coalesce(col("source").isInCollection(giants), lit(false))))
        .unionByName(viaWindow(d.filter(
          !coalesce(col("source").isInCollection(giants), lit(false)))))
    pre
      .withColumn("chunk_id", floor(col("__excl") / budget))
      .groupBy("source", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "chunk_id")
  }

  val dataPackSequencesSql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS toks
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, toks,
      |    CAST(COALESCE(SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS BIGINT) AS chunk_id
      |  FROM t)
      |SELECT source, chunk_id, COUNT(*) AS n_docs,
      |  CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM c GROUP BY source, chunk_id ORDER BY source, chunk_id""".stripMargin

  // -- n-gram-level train/test contamination ----------------------------------
  /** Eval decontamination at the n-gram level (the standard 8-gram
    * overlap check): a val/test doc is contaminated if ANY of its word
    * 8-grams appears in the train split. Shingle hashes + a semi-join —
    * the train shingle set shuffles once; at 100 TB the test side is
    * tiny and the join is a broadcast.
    */
  def dataContaminationNgram(s: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucket(col("doc_id"))
    val split = when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    val withSplit = docs(s, dir).select(col("doc_id"), split.as("split"))
    // fan-out only the shingle leg's pruned input (r15): the split leg
    // column-prunes to doc_id and must not ride a full-row exchange
    val sh8 = Dedup.shingleHashes(
      graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("doc_id", "text")),
      "doc_id", "text", k = 8)
      .join(withSplit, "doc_id")
    val trainGrams = sh8.filter(col("split") === "train").select("shingle").distinct()
    val eval_ = sh8.filter(col("split") =!= "train")
    val contaminated = eval_.join(trainGrams, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    withSplit.filter(col("split") =!= "train")
      .join(contaminated.withColumn("__hit", lit(1L)), Seq("doc_id"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .orderBy("split")
  }

  val dataContaminationNgramSql: String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS s
      |      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i)
      |      WHERE len(t) > 8
      |      UNION
      |      SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) <= 8),
      |d AS (SELECT doc_id,
      |        CASE WHEN $splitBucketSql < 80 THEN 'train'
      |             WHEN $splitBucketSql < 90 THEN 'val'
      |             ELSE 'test' END AS split
      |      FROM documents),
      |tg AS (SELECT DISTINCT g.s FROM g JOIN d USING (doc_id) WHERE d.split = 'train'),
      |cont AS (SELECT DISTINCT g.doc_id FROM g JOIN d USING (doc_id)
      |         JOIN tg ON tg.s = g.s WHERE d.split <> 'train')
      |SELECT d.split, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN d.doc_id IN (SELECT doc_id FROM cont) THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contaminated
      |FROM d WHERE d.split <> 'train'
      |GROUP BY d.split ORDER BY d.split""".stripMargin

  // -- repetition-based quality filtering -------------------------------------
  /** Gopher/MassiveText-style repetition signals per document: the
    * distinct-token ratio and the most-frequent-token / most-frequent-
    * bigram mass fractions, plus the resulting keep/drop flag. Two
    * explode+aggregate passes, all counts — the standard repetition
    * gate a corpus cleaner runs before training.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    // fan-out (r15): token and bigram legs each tokenize the 1-split
    // scan serially; per-doc ratios derive from exact integer counts.
    val d = graft.ops.Skew.fanOutNarrowScan(docs(s, dir).select("doc_id", "text"))
    val toks = tokenize(col("text"))
    val tokCounts = d.select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_tok"))
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val biCounts = d.select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bg"))
    val distinctRatio = col("n_distinct").cast("double") / col("n_tokens").cast("double")
    val topTokFrac = col("top_tok").cast("double") / col("n_tokens").cast("double")
    val topBgFrac = col("top_bg").cast("double") / col("n_bigrams").cast("double")
    tokCounts.join(biCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        distinctRatio.as("distinct_ratio"),
        topTokFrac.as("top_token_frac"),
        topBgFrac.as("top_bigram_frac"),
        (distinctRatio < 0.3 || topTokFrac > 0.2 ||
          coalesce(topBgFrac, lit(0.0)) > 0.18).as("flagged"))
      .orderBy("doc_id")
  }

  val textRepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |tc AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_tok
      |  FROM (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |t2 AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents),
      |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
      |       FROM t2, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)),
      |bc AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, CAST(MAX(c) AS BIGINT) AS top_bg
      |  FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2)
      |  GROUP BY doc_id)
      |SELECT tc.doc_id, tc.n_tokens, tc.n_distinct,
      |  CAST(tc.n_distinct AS DOUBLE) / CAST(tc.n_tokens AS DOUBLE) AS distinct_ratio,
      |  CAST(tc.top_tok AS DOUBLE) / CAST(tc.n_tokens AS DOUBLE) AS top_token_frac,
      |  CAST(bc.top_bg AS DOUBLE) / CAST(bc.n_bigrams AS DOUBLE) AS top_bigram_frac,
      |  (CAST(tc.n_distinct AS DOUBLE) / CAST(tc.n_tokens AS DOUBLE) < 0.3
      |   OR CAST(tc.top_tok AS DOUBLE) / CAST(tc.n_tokens AS DOUBLE) > 0.2
      |   OR COALESCE(CAST(bc.top_bg AS DOUBLE) / CAST(bc.n_bigrams AS DOUBLE), 0.0) > 0.18)
      |    AS flagged
      |FROM tc LEFT JOIN bc USING (doc_id)
      |ORDER BY tc.doc_id""".stripMargin

  // -- corpus bigram statistics ----------------------------------------------
  /** Top bigrams by document frequency — classic corpus analysis. One
    * explode + two aggregations; document frequency (distinct docs per
    * bigram) rather than raw count so boilerplate-heavy docs don't
    * dominate.
    */
  def textNgramStats(s: SparkSession, dir: String): DataFrame = {
    val toks = tokenize(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(bigrams)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("bigram"))
      .limit(50)
  }

  val textNgramStatsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
      |  FROM documents),
      |bi AS (
      |  SELECT DISTINCT doc_id,
      |    t[i] || ' ' || t[i + 1] AS bigram
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i))
      |SELECT bigram, COUNT(*) AS doc_freq
      |FROM bi GROUP BY bigram
      |ORDER BY doc_freq DESC, bigram
      |LIMIT 50""".stripMargin

  // -- temperature-weighted source mixture (multilingual-sampling style) ----
  /** Per-source sampling weights under temperature τ = 1/2 — the
    * standard p^τ reweighting that upsamples small sources (the
    * multilingual/domain-mixing recipe). Numeric determinism: sqrt is
    * correctly-rounded IEEE in both engines, the weight is then FIXED
    * POINT (floor(sqrt(n)·10⁶) as BIGINT) so the total is an exact
    * integer sum, and the share/expected-docs are single-division /
    * single-multiply double chains in identical order. One tiny
    * aggregate + a 1-row broadcast for the totals — no shuffle beyond
    * the groupBy.
    */
  def dataMixWeights(s: SparkSession, dir: String): DataFrame = {
    val per = docs(s, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("n_tokens"))
      .withColumn("weight_fixed",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val tot = per.agg(sum(col("weight_fixed")).as("__tw"),
      sum(col("n_docs")).as("__td"))
    per.crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("share",
        col("weight_fixed").cast("double") / col("__tw").cast("double"))
      .withColumn("expected_per_epoch",
        floor(col("share") * col("__td").cast("double")).cast("long"))
      .drop("__tw", "__td")
      .orderBy("source")
  }

  val dataMixWeightsSql: String =
    """WITH per AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
      |    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS weight_fixed
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(weight_fixed) AS BIGINT) AS tw,
      |               CAST(SUM(n_docs) AS BIGINT) AS td FROM per)
      |SELECT source, n_docs, n_tokens, weight_fixed,
      |  CAST(weight_fixed AS DOUBLE) / CAST(tw AS DOUBLE) AS share,
      |  CAST(FLOOR((CAST(weight_fixed AS DOUBLE) / CAST(tw AS DOUBLE))
      |    * CAST(td AS DOUBLE)) AS BIGINT) AS expected_per_epoch
      |FROM per, tot ORDER BY source""".stripMargin

  // -- the composed training-mix plan -----------------------------------------
  /** The artifact a training run actually consumes: per-source caps,
    * τ=1/2 mix reweighting, and curriculum deciles composed into ONE
    * per-(source, bucket) sampling plan — cell sizes, source share,
    * per-epoch source quota, and the cell quota/rate the loader
    * applies. Three data shuffles total, each already paid by the
    * component ops: the per-source cap window, the cutpoint-bucket
    * histogram ([[graft.ops.Buckets.ntileByHistogram]] — no global
    * sort), and the (source, bucket) cell aggregation; everything
    * after runs on the tiny cells frame (≤ sources × 10 rows).
    * Quota arithmetic: fixed-point weights and integer `div` for the
    * within-source allocation, so the oracle hash-matches exactly.
    */
  def dataMixPlan(s: SparkSession, dir: String): DataFrame = {
    val cap = 15
    val wCap = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    // pre-barrier the NARROW scored frame (r15 stage audit, the
    // budget-cut/leaf-pin precedent): ntileByHistogram evaluates its
    // input twice (histogram pass + assignment join), so without the
    // pin the cap window AND the tokenize regex re-run per leg — and
    // the un-narrowed frame dragged the full `text` column through
    // the bucket join. Three numeric-ish columns pin cheaply.
    val kept = graft.ops.Materialize.barrier(docs(s, dir)
      .withColumn("__rn", row_number().over(wCap))
      .filter(col("__rn") <= cap)
      .drop("__rn")
      .withColumn("n_tokens", size(tokenize(col("text"))))
      .select("doc_id", "source", "n_tokens"))
    val cells = Buckets.ntileByHistogram(kept, "n_tokens", "doc_id", 10)
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("cell_docs"),
        sum(col("n_tokens").cast("long")).as("cell_tokens"))
    val bySource = cells.groupBy("source")
      .agg(sum(col("cell_docs")).as("src_docs"))
      .withColumn("weight_fixed",
        floor(sqrt(col("src_docs").cast("double")) * 1e6).cast("long"))
    val tot = bySource.agg(sum(col("weight_fixed")).as("__tw"),
      sum(col("src_docs")).as("__td"))
    cells.join(bySource, "source")
      .crossJoin(broadcast(tot)) // 1-row totals
      .withColumn("share",
        col("weight_fixed").cast("double") / col("__tw").cast("double"))
      .withColumn("src_quota",
        floor(col("share") * col("__td").cast("double")).cast("long"))
      .withColumn("cell_quota", expr("(src_quota * cell_docs) div src_docs"))
      .withColumn("sample_rate",
        col("cell_quota").cast("double") / col("cell_docs").cast("double"))
      .select("source", "bucket", "cell_docs", "cell_tokens", "share",
        "src_quota", "cell_quota", "sample_rate")
      .orderBy("source", "bucket")
  }

  val dataMixPlanSql: String =
    """WITH kept AS (
      |  SELECT doc_id, source,
      |    len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY n_chars DESC, doc_id) AS rn FROM documents)
      |  WHERE rn <= 15),
      |b AS (SELECT doc_id, source, n_tokens,
      |  CAST(NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
      |  FROM kept),
      |cells AS (SELECT source, bucket, COUNT(*) AS cell_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS cell_tokens FROM b GROUP BY 1, 2),
      |bysrc AS (SELECT source, CAST(SUM(cell_docs) AS BIGINT) AS src_docs,
      |  CAST(FLOOR(SQRT(CAST(SUM(cell_docs) AS DOUBLE)) * 1000000.0) AS BIGINT)
      |    AS weight_fixed
      |  FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(weight_fixed) AS BIGINT) AS tw,
      |               CAST(SUM(src_docs) AS BIGINT) AS td FROM bysrc),
      |alloc AS (SELECT s.source, s.src_docs,
      |  CAST(s.weight_fixed AS DOUBLE) / CAST(t.tw AS DOUBLE) AS share,
      |  CAST(FLOOR(CAST(s.weight_fixed AS DOUBLE) / CAST(t.tw AS DOUBLE)
      |    * CAST(t.td AS DOUBLE)) AS BIGINT) AS src_quota
      |  FROM bysrc s, tot t)
      |SELECT c.source, c.bucket, c.cell_docs, c.cell_tokens, a.share,
      |  a.src_quota,
      |  CAST((a.src_quota * c.cell_docs) // a.src_docs AS BIGINT) AS cell_quota,
      |  CAST((a.src_quota * c.cell_docs) // a.src_docs AS DOUBLE)
      |    / CAST(c.cell_docs AS DOUBLE) AS sample_rate
      |FROM cells c JOIN alloc a USING (source)
      |ORDER BY c.source, c.bucket""".stripMargin

  // -- materialized repeat-upsampling ------------------------------------------
  /** The step after a mix plan: MATERIALIZE a >1× weight as (doc,
    * epoch) repeats — the sequence a trainer actually reads when
    * low-resource LANGUAGES are upsampled (the multilingual-mix
    * standard move). Weights are integer per-mille (each language
    * upsampled toward the largest language's doc count, capped at
    * 4×), and the fractional remainder is resolved PER DOC by its
    * uniform hash (doc repeats ⌊w⌋+1 times iff h mod 1000 < w mod
    * 1000), so a language at 2.3× repeats every doc twice and a
    * deterministic, hash-stable 30% slice a third time — expected
    * epochs per language = n·w/1000 exactly, with no RNG and no drift
    * across snapshots/replays (a doc's epoch count only changes if
    * its language's weight does). Plan shape at 100 TB: one
    * partially-aggregated per-language count, two 1-row/langs-row
    * broadcast control frames, then a MAP-SIDE explode — the repeats
    * never shuffle, they stream straight to the writer.
    */
  def dataRepeatUpsample(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val per = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val mx = per.agg(max(col("n_docs")).as("__max_docs"))
    val w = per.crossJoin(broadcast(mx)) // 1-row max
      .withColumn("w_pm", least(greatest(
        expr("(__max_docs * 1000) div n_docs"), lit(1000L)), lit(4000L)))
      .select("lang", "w_pm")
    d.join(broadcast(w), "lang")
      .withColumn("__u",
        graft.ops.Sketches.uniformHash(col("doc_id").cast("string")) % lit(1000L))
      .withColumn("epochs", (expr("w_pm div 1000") +
        when(col("__u") < col("w_pm") % lit(1000L), lit(1L)).otherwise(lit(0L)))
        .cast("long"))
      .select(col("doc_id"), col("lang"), col("w_pm"), col("epochs"),
        explode(sequence(lit(1L), col("epochs"))).as("epoch"))
      .orderBy("lang", "doc_id", "epoch")
  }

  val dataRepeatUpsampleSql: String =
    """WITH per AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
      |mx AS (SELECT CAST(MAX(n_docs) AS BIGINT) AS max_docs FROM per),
      |w AS (
      |  SELECT lang, CAST(least(greatest((max_docs * 1000) // n_docs, 1000), 4000) AS BIGINT) AS w_pm
      |  FROM per, mx),
      |e AS (
      |  SELECT d.doc_id, d.lang, w.w_pm,
      |    CAST(w.w_pm // 1000 + CASE WHEN
      |      CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
      |        < w.w_pm % 1000 THEN 1 ELSE 0 END AS BIGINT) AS epochs
      |  FROM documents d JOIN w ON w.lang = d.lang)
      |SELECT doc_id, lang, w_pm, epochs, CAST(epoch AS BIGINT) AS epoch
      |FROM (SELECT doc_id, lang, w_pm, epochs,
      |        unnest(generate_series(1, epochs)) AS epoch FROM e)
      |ORDER BY lang, doc_id, epoch""".stripMargin

  // -- deterministic per-epoch training order -----------------------------------
  /** The step after [[dataRepeatUpsample]]: give every (doc, epoch)
    * repeat its position in a deterministically SHUFFLED per-epoch
    * reading order (trainers must not see a source- or id-ordered
    * stream; the order must still be a pure function of the data so
    * every replay/restart reads the same sequence). Order key =
    * uniform hash of (doc_id, epoch) — a fresh permutation per epoch —
    * and position = rank within the epoch. The rank is
    * [[graft.ops.Buckets.runningSumByRange]] of ones partitioned by
    * epoch, because an epoch is the WHOLE CORPUS — the textbook giant
    * group: a `ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY …)`
    * window would funnel each epoch through ONE task's sort at 100 TB,
    * while the range machinery bounds every local sort at ~N/parts and
    * carries cross-partition offsets in a (parts × epochs)-row
    * broadcast control frame.
    */
  def dataEpochOrder(s: SparkSession, dir: String): DataFrame = {
    val rep = dataRepeatUpsample(s, dir)
      .withColumn("h", graft.ops.Sketches.uniformHash(
        concat(col("doc_id").cast("string"), lit(":"), col("epoch").cast("string"))))
      .withColumn("__one", lit(1L))
    Buckets.runningSumByRange(rep, "__one", "h", "doc_id",
        Seq("epoch"), "pos")
      .select(col("epoch"), col("pos"), col("doc_id"), col("lang"))
      .orderBy("epoch", "pos")
  }

  val dataEpochOrderSql: String =
    """WITH per AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
      |mx AS (SELECT CAST(MAX(n_docs) AS BIGINT) AS max_docs FROM per),
      |w AS (
      |  SELECT lang, CAST(least(greatest((max_docs * 1000) // n_docs, 1000), 4000) AS BIGINT) AS w_pm
      |  FROM per, mx),
      |e AS (
      |  SELECT d.doc_id, d.lang,
      |    CAST(w.w_pm // 1000 + CASE WHEN
      |      CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
      |        < w.w_pm % 1000 THEN 1 ELSE 0 END AS BIGINT) AS epochs
      |  FROM documents d JOIN w ON w.lang = d.lang),
      |rep AS (
      |  SELECT doc_id, lang, CAST(epoch AS BIGINT) AS epoch
      |  FROM (SELECT doc_id, lang, unnest(generate_series(1, epochs)) AS epoch FROM e)),
      |h AS (
      |  SELECT doc_id, lang, epoch,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM rep)
      |SELECT epoch,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS pos,
      |  doc_id, lang
      |FROM h ORDER BY epoch, pos""".stripMargin

  // -- greedy token-budget selection --------------------------------------------
  /** Fill a global token budget with the best documents: rank the
    * corpus by quality (desc, doc_id tiebreak) and keep the maximal
    * prefix whose cumulative token count fits 60% of the corpus —
    * the "select the top-quality B tokens for this run" step between
    * scoring and packing. The cumulative sum is
    * [[graft.ops.Buckets.runningSumByRange]] with EMPTY partCols — a
    * GLOBAL prefix sum with no global sort and no single-task window
    * (one range repartition bounds every local sort at ~N/parts; the
    * cross-partition offsets ride a parts-row broadcast control
    * frame), which is exactly the shape a naive
    * `SUM OVER (ORDER BY …)` plan serializes into one task at 100 TB.
    * The budget itself is a 1-row control read off the RANKED frame —
    * the total token count IS the prefix sum's own maximum (inclusive
    * cumsum of non-negative counts), so the corpus-priced regex
    * feature scan runs ONCE: the r14 100× stage audit caught the
    * previous `q.agg(sum(...))` formulation re-running the whole
    * qualityFeatures pass a second time just to price the budget
    * (the row's two heaviest stages were both that scan); reading the
    * max off the op-internal checkpoint costs a numeric re-scan
    * instead. The SCORED frame is barriered before the range op for
    * the same reason: repartitionByRange evaluates its child TWICE
    * (once for RangePartitioner's boundary sampling, once for the
    * exchange — the stage audit showed two equal full-regex stages),
    * so an expensive child must be pinned first; the barriered frame
    * is the narrow (id, score, tokens) projection, not the text.
    * quality_score's IEEE chain is the text_quality_score precedent —
    * bit-identical across engines, and doc_id breaks any score tie,
    * so the kept set is exact.
    */
  def dataBudgetCut(s: SparkSession, dir: String): DataFrame = {
    val q = graft.ops.Materialize.barrier(
      TextOps.qualityFeatures(docs(s, dir), "text")
        .select(col("doc_id"), col("quality_score"),
          col("n_tokens").cast("long").as("n_tokens"))
        .withColumn("__ord", negate(col("quality_score"))))
    val ranked = Buckets.runningSumByRange(q, "n_tokens", "__ord", "doc_id",
      Nil, "cum_tokens")
    val tot = ranked.agg(max(col("cum_tokens")).as("__tt"))
    ranked
      .crossJoin(broadcast(tot)) // 1-row total-token budget
      .filter(col("cum_tokens") <= expr("(__tt * 6) div 10"))
      .select("doc_id", "quality_score", "n_tokens", "cum_tokens")
      .orderBy(col("quality_score").desc, col("doc_id"))
  }

  val dataBudgetCutSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS n_chars_d,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tokens_d,
      |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits,
      |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> x IN ('the','a','an','and','or','of','to','in','is','on'))) AS DOUBLE) AS n_stop
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, CAST(n_tokens_d AS BIGINT) AS n_tokens,
      |    1.0 - least(1.0, (n_punct / n_chars_d) * 4) - least(1.0, (n_digits / n_chars_d) * 4) * 0.5
      |      + least(0.5, n_stop / n_tokens_d) AS quality_score
      |  FROM f),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM q),
      |c AS (
      |  SELECT doc_id, quality_score, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS cum_tokens
      |  FROM q)
      |SELECT doc_id, quality_score, n_tokens, cum_tokens
      |FROM c, tot WHERE cum_tokens <= (tt * 6) // 10
      |ORDER BY quality_score DESC, doc_id""".stripMargin

  // -- the trainer-facing accounting chain in one planned query ---------------
  /** The artifact a TRAINING RUN reads, composed end-to-end as ONE
    * Catalyst plan — the LLM flagship sibling of [[corpusCurationE2e]]
    * (that one curates text; this one turns the curated corpus into
    * the epoch/shard manifest a data loader consumes): greedy
    * token-budget cut (row 102's GLOBAL empty-partCols prefix sum —
    * quality-ranked, keep 60% of the token mass) → per-language
    * repeat-upsample over the KEPT set (row 101's hash-resolved
    * per-mille weights — the weights re-derive from the post-cut
    * counts, which is the semantically right order: upsampling
    * balances what survived selection) → deterministic per-epoch
    * reading order (row 104's giant-group rank — an epoch is the
    * whole corpus) → shard assignment (row 61's zero-shuffle Lehmer
    * hash), folded to the per-(epoch, shard) manifest accounting
    * (docs, tokens, position span, language mix). The stages compose
    * LAZILY — the only materialization barriers are the two
    * op-internal pinned range exchanges the prefix-sum machinery
    * itself owns (load-bearing for correctness, [[graft.ops.Materialize]]);
    * no stage collects, re-reads, or re-shuffles what a previous
    * stage already positioned. The oracle replays the whole chain in
    * SQL (budget window → weights → unnest → per-epoch rank → shard →
    * rollup), so a drift anywhere — a wrong kept set, a wrong epoch
    * count, a wrong position — hash-fails the manifest.
    */
  def corpusTrainingManifest(s: SparkSession, dir: String): DataFrame = {
    // pre-barrier the scored projection: repartitionByRange evaluates
    // its child twice (boundary sampling + exchange), and this child
    // carries the full regex feature scan (row 102's one-scan rule)
    val q = graft.ops.Materialize.barrier(
      TextOps.qualityFeatures(docs(s, dir), "text")
        .select(col("doc_id"), col("lang"), col("quality_score"),
          col("n_tokens").cast("long").as("n_tokens"))
        .withColumn("__ord", negate(col("quality_score"))))
    val ranked = Buckets.runningSumByRange(q, "n_tokens", "__ord", "doc_id",
      Nil, "cum_tokens")
    // budget = the prefix sum's own max (row 102's one-scan rule)
    val tot = ranked.agg(max(col("cum_tokens")).as("__tt"))
    val kept = ranked
      .crossJoin(broadcast(tot)) // 1-row token budget
      .filter(col("cum_tokens") <= expr("(__tt * 6) div 10"))
      .select("doc_id", "lang", "n_tokens")
    val per = kept.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val mx = per.agg(max(col("n_docs")).as("__max_docs"))
    val w = per.crossJoin(broadcast(mx)) // 1-row max
      .withColumn("w_pm", least(greatest(
        expr("(__max_docs * 1000) div n_docs"), lit(1000L)), lit(4000L)))
      .select("lang", "w_pm")
    val rep = kept.join(broadcast(w), "lang")
      .withColumn("__u",
        graft.ops.Sketches.uniformHash(col("doc_id").cast("string")) % lit(1000L))
      .withColumn("epochs", (expr("w_pm div 1000") +
        when(col("__u") < col("w_pm") % lit(1000L), lit(1L)).otherwise(lit(0L)))
        .cast("long"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        explode(sequence(lit(1L), col("epochs"))).as("epoch"))
    val ordered = Buckets.runningSumByRange(
      rep.withColumn("h", graft.ops.Sketches.uniformHash(
          concat(col("doc_id").cast("string"), lit(":"), col("epoch").cast("string"))))
        .withColumn("__one", lit(1L)),
      "__one", "h", "doc_id", Seq("epoch"), "pos")
    ordered
      .withColumn("shard", pmod(pmod(col("doc_id"), lit(2147483647L)) *
        lit(48271L), lit(2147483647L)) % 16)
      .groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        min("pos").as("min_pos"), max("pos").as("max_pos"),
        countDistinct("lang").as("n_langs"))
      .orderBy("epoch", "shard")
  }

  val corpusTrainingManifestSql: String =
    """WITH f AS (
      |  SELECT doc_id, lang,
      |    CAST(length(text) AS DOUBLE) AS n_chars_d,
      |    CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tokens_d,
      |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS n_punct,
      |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits,
      |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
      |      x -> x IN ('the','a','an','and','or','of','to','in','is','on'))) AS DOUBLE) AS n_stop
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, lang, CAST(n_tokens_d AS BIGINT) AS n_tokens,
      |    1.0 - least(1.0, (n_punct / n_chars_d) * 4) - least(1.0, (n_digits / n_chars_d) * 4) * 0.5
      |      + least(0.5, n_stop / n_tokens_d) AS quality_score
      |  FROM f),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM q),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT) AS cum_tokens
      |  FROM q),
      |kept AS (SELECT doc_id, lang, n_tokens FROM c, tot WHERE cum_tokens <= (tt * 6) // 10),
      |per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM kept GROUP BY lang),
      |mx AS (SELECT CAST(MAX(n_docs) AS BIGINT) AS max_docs FROM per),
      |w AS (
      |  SELECT lang, CAST(least(greatest((max_docs * 1000) // n_docs, 1000), 4000) AS BIGINT) AS w_pm
      |  FROM per, mx),
      |e AS (
      |  SELECT k.doc_id, k.lang, k.n_tokens,
      |    CAST(w.w_pm // 1000 + CASE WHEN
      |      CAST(concat('0x', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
      |        < w.w_pm % 1000 THEN 1 ELSE 0 END AS BIGINT) AS epochs
      |  FROM kept k JOIN w ON w.lang = k.lang),
      |rep AS (
      |  SELECT doc_id, lang, n_tokens, CAST(epoch AS BIGINT) AS epoch
      |  FROM (SELECT doc_id, lang, n_tokens, unnest(generate_series(1, epochs)) AS epoch FROM e)),
      |h AS (
      |  SELECT doc_id, lang, n_tokens, epoch,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM rep),
      |p AS (
      |  SELECT epoch, doc_id, lang, n_tokens,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS pos,
      |    ((doc_id % 2147483647) * 48271) % 2147483647 % 16 AS shard
      |  FROM h)
      |SELECT epoch, shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  MIN(pos) AS min_pos, MAX(pos) AS max_pos,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      |FROM p GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin

  // -- the FLAGSHIP corpus-curation pipeline in one planned query -------------
  /** The full LLM-corpus curation deployment as ONE Catalyst plan
    * (LLM-side sibling of `cdc_pipeline_e2e`): PII scrub → Gopher/C4
    * quality gate on the SCRUBBED text → near-dup clustering (identity
    * collapse + minhash-LSH + exact-Jaccard verify, J ≥ 0.8) over the
    * survivors → canonical-keep materialization → per-source
    * publication stats. Every stage is an existing oracle-proven
    * component (text_pii_scrub, text_gopher_filters,
    * dedup_clusters/dedup_apply); this entry proves they COMPOSE
    * into one lazy plan — scrubbed text flows straight into the
    * tokenizer of the quality gate and the shingler of the dedup
    * stage with no materialization barrier. Output: per source, raw
    * count, quality survivors, post-dedup keepers, kept chars, and
    * how many survivors carried (scrubbed) PII.
    */
  def corpusCurationE2e(s: SparkSession, dir: String): DataFrame = {
    val raw = docs(s, dir)
    val scrubbed = TextOps.piiScrub(raw, "text")
      .select(col("doc_id"), col("source"), col("scrubbed").as("text"),
        (col("n_emails") + col("n_phones") + col("n_ips") > 0).as("has_pii"))
    // NO pin on the survivors, deliberately (r14 measured both ways):
    // a Materialize.barrier here wins 1.6× at sf0.1 (the PII-regex +
    // Gopher leaf re-evaluates ~4×) but LOSES 1.35× at 100× —
    // checkpointing 500k TEXT-bearing rows costs more than the
    // parallel regex re-evaluation it saves (46 → 62 s; max task 17 s
    // in the checkpoint write). The cdc_pipeline_e2e parse-once pin
    // is the opposite case: its pinned frame is narrow numerics.
    val sur = TextOps.gopherFilters(scrubbed, "text")
      .filter(col("keep"))
      .select("doc_id", "source", "text", "has_pii")
    // NARROW survivor attributes pinned once (r15; the leaf-pin rule's
    // WIN side — numerics + a short source string, never text): the CC
    // universe leg and the publication rollup each re-ran the full
    // PII+Gopher regex chain to read columns that reduce to 4 narrow
    // values per survivor (the rollup needs length(text), not text).
    // Two full-corpus regex passes become one narrow checkpoint read;
    // the dedup stage itself still consumes `sur` lazily, unchanged —
    // the r14 rejection of pinning the TEXT-bearing survivors stands.
    val edges = Dedup.verifiedDupEdges(sur, "doc_id", "text", threshold = 0.8,
      numHashes = 32, bands = 16)
    val surAttrs = graft.ops.Materialize.barrier(
      sur.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("__n_chars"), col("has_pii")))
    val cl = Dedup.dupClusters(surAttrs.select("doc_id"), "doc_id", edges)
    val surStats = surAttrs.join(cl.select("doc_id", "is_dup"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("__n_pass"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("__n_kept"),
        sum(when(!col("is_dup"), col("__n_chars")).otherwise(0L))
          .as("__kept_chars"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("__n_pii_docs"))
    raw.groupBy("source").agg(count(lit(1)).as("n_raw"))
      .join(surStats, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("__n_pass"), lit(0L)).as("n_pass"),
        coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("__kept_chars"), lit(0L)).as("kept_chars"),
        coalesce(col("__n_pii_docs"), lit(0L)).as("n_pii_docs"))
      .orderBy("source")
  }

  val corpusCurationE2eSql: String =
    """WITH RECURSIVE scr AS (
      |  SELECT doc_id, source,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[a-z0-9.]+@[a-z0-9.]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |      '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g'),
      |      '\d+\.\d+\.\d+\.\d+', '<IP>', 'g') AS t,
      |    (len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]{2,}')) +
      |     len(regexp_extract_all(text, '\d{3}-\d{3}-\d{4}')) +
      |     len(regexp_extract_all(text, '\d+\.\d+\.\d+\.\d+'))) > 0 AS has_pii
      |  FROM documents),
      |gw AS (
      |  SELECT doc_id, t,
      |    regexp_split_to_array(lower(trim(t)), '\s+') AS gtoks,
      |    CAST(length(regexp_replace(t, '\s', '', 'g')) AS DOUBLE) AS nn
      |  FROM scr),
      |gs AS (
      |  SELECT doc_id, t, nn,
      |    CAST(len(gtoks) AS BIGINT) AS n_words,
      |    CAST(len(list_filter(gtoks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
      |    CAST(len(list_filter(gtoks,
      |      x -> x IN ('the','a','an','and','or','of','to','in','is','on'))) AS BIGINT) AS stop_hits,
      |    CAST(length(t) - length(regexp_replace(t, '#', '', 'g')) AS BIGINT) AS n_hash,
      |    CAST((length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3 AS BIGINT) AS n_ell
      |  FROM gw),
      |keepers AS (
      |  SELECT doc_id FROM gs
      |  WHERE (n_words BETWEEN 30 AND 100000) AND (nn / n_words BETWEEN 3.0 AND 10.0)
      |    AND (CAST(n_hash + n_ell AS DOUBLE) / n_words <= 0.1)
      |    AND (CAST(alpha_words AS DOUBLE) / n_words > 0.8)
      |    AND stop_hits >= 2
      |    AND NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum')),
      |sur AS (SELECT s.doc_id, s.source, s.t, s.has_pii
      |        FROM scr s JOIN keepers USING (doc_id)),
      |toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(t)), '\s+') AS t FROM sur),
      |sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i)
      |       WHERE len(t) > 3
      |       UNION
      |       SELECT doc_id, array_to_string(t, ' ') AS s FROM toks WHERE len(t) <= 3),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_inter
      |          FROM sh a JOIN sh b ON b.s = a.s AND b.doc_id > a.doc_id GROUP BY 1, 2),
      |jac AS (SELECT i.ia AS id_a, i.ib AS id_b,
      |          CAST(i.n_inter AS DOUBLE) / CAST(za.n + zb.n - i.n_inter AS DOUBLE) AS jaccard
      |        FROM inter i JOIN sizes za ON za.doc_id = i.ia
      |        JOIN sizes zb ON zb.doc_id = i.ib),
      |e1 AS (SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= 0.8),
      |edges AS (SELECT a, b FROM e1 UNION SELECT b, a FROM e1),
      |reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM sur
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id),
      |lab AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id),
      |ks AS (
      |  SELECT s.source, COUNT(*) AS n_pass,
      |    SUM(CASE WHEN l.id = l.cluster_id THEN 1 ELSE 0 END) AS n_kept,
      |    SUM(CASE WHEN l.id = l.cluster_id THEN length(s.t) ELSE 0 END) AS kept_chars,
      |    SUM(CASE WHEN s.has_pii THEN 1 ELSE 0 END) AS n_pii_docs
      |  FROM sur s JOIN lab l ON l.id = s.doc_id GROUP BY s.source),
      |nr AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source)
      |SELECT nr.source, nr.n_raw,
      |  CAST(COALESCE(ks.n_pass, 0) AS BIGINT) AS n_pass,
      |  CAST(COALESCE(ks.n_kept, 0) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(ks.kept_chars, 0) AS BIGINT) AS kept_chars,
      |  CAST(COALESCE(ks.n_pii_docs, 0) AS BIGINT) AS n_pii_docs
      |FROM nr LEFT JOIN ks USING (source) ORDER BY nr.source""".stripMargin

  // -- corpus-frequency rare-token stats (CCNet-style quality proxy) --------
  /** Per-doc rare-token statistics against the corpus vocabulary: the
    * quality signal a perplexity filter computes, kept integer-exact
    * (token counts and corpus frequencies, no float log-sums) so the
    * oracle hash-matches. Docs dense in corpus-rare tokens are the
    * flag-worthy ones.
    */
  def textRareTokens(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenFrequencyStats(docs(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val textRareTokensSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
      |  FROM documents),
      |tk AS (SELECT * FROM tok WHERE length(t) > 0),
      |freq AS (SELECT t, COUNT(*) AS f FROM tk GROUP BY t)
      |SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT t) AS n_distinct,
      |  CAST(SUM(CASE WHEN f <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
      |  MIN(f) AS min_freq, CAST(SUM(f) AS BIGINT) AS sum_freq
      |FROM tk JOIN freq USING (t)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // -- fingerprints ----------------------------------------------------------
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprints(docs(s, dir), "text")
      .select("doc_id", "fp", "fp_head", "fp_tail")
      .orderBy("doc_id")

  val textFingerprintSql: String =
    """SELECT doc_id,
      |  md5(lower(trim(text))) AS fp,
      |  md5(substr(lower(trim(text)), 1, 32)) AS fp_head,
      |  md5(substr(reverse(lower(trim(text))), 1, 32)) AS fp_tail
      |FROM documents ORDER BY doc_id""".stripMargin

  // -- brute-force cosine top-k ----------------------------------------------
  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  val annBruteforceSql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |      FROM embeddings WHERE vec_id >= 10),
      |scored AS (
      |  SELECT q.query_id, c.neighbor_id,
      |    list_dot_product(q.qv, c.cv) /
      |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_sim
      |  FROM q CROSS JOIN c)
      |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
      |  FROM scored)
      |WHERE rnk <= 5 ORDER BY query_id, rank""".stripMargin

  // -- multi-table LSH ANN ----------------------------------------------------
  /** Param regime: the synthetic corpus is isotropic (top-5 neighbors
    * at cos 0.25–0.5 — no cluster structure), so the test config uses
    * shallow tables (nPlanes=2) and many (nTables=32): per-neighbor
    * miss ≤ (1 − agree²)³² < 2e-6 even at cos 0.25, i.e. the LSH
    * candidate set provably covers the true top-5 and the oracle is the
    * exact brute-force answer. Dup-grade corpora (cos ≥ 0.9) invert the
    * regime: deep tables, few of them — see lshTopK's Scaladoc.
    */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.lshTopK(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        "vec_id", "embedding", nPlanes = 2, nTables = 32, k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "rank")
  }

  val annLshSql: String = annBruteforceSql

  // -- IVF ANN ----------------------------------------------------------------
  /** nProbe = nCells because random vectors have no cluster structure
    * for the coarse quantizer to exploit — probing all cells makes the
    * inverted-file path exhaustive (recall 1 by construction) while
    * still exercising the real plan: bounded centroid broadcast, one
    * corpus shuffle on cell id, per-query probe join. A clustered
    * corpus would run nProbe ≪ nCells.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfTopK(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        "vec_id", "embedding", nCells = 16, nProbe = 16, k = 5)
      .orderBy("query_id", "rank")
  }

  val annIvfSql: String = annBruteforceSql

  // -- IVF with scalar-quantized (int8) cells ---------------------------------
  /** The serving-memory regime: inverted cells store int8 codes (4×
    * smaller), candidates score quantized via the codegen'd
    * `graft_cosine_q`, and only the top `rerank` per query touch float
    * vectors again. Same exhaustive nProbe=nCells coverage as
    * [[annIvf]], so the rescored top-5 must EQUAL exact brute force —
    * plus per-row quantization evidence (`q_cos_sim`, `recon_err`) the
    * oracle recomputes independently from the SQL-side quantizer.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfPqTopK(
        e.filter(col("vec_id") >= 10), e.filter(col("vec_id") < 10),
        "vec_id", "embedding", nCells = 16, nProbe = 16, k = 5, rerank = 64)
      .orderBy("query_id", "rank")
  }

  val annIvfPqSql: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      |      FROM embeddings WHERE vec_id >= 10),
      |scored AS (
      |  SELECT q.query_id, c.neighbor_id,
      |    list_dot_product(q.qv, c.cv) /
      |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_sim
      |  FROM q CROSS JOIN c),
      |topk AS (
      |  SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, cos_sim FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
      |    FROM scored)
      |  WHERE rnk <= 5),
      |ex AS (
      |  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
      |  WHERE vec_id >= 10),
      |sc AS (SELECT vec_id, MIN(x) AS lo, MAX(x) AS hi,
      |       (MAX(x) - MIN(x)) / 255.0 AS scale FROM ex GROUP BY 1),
      |dq AS (
      |  SELECT ex.vec_id,
      |    array_agg(CASE WHEN sc.hi = sc.lo THEN sc.lo
      |      ELSE CAST(ROUND((ex.x - sc.lo) / sc.scale) AS BIGINT) * sc.scale + sc.lo
      |      END ORDER BY ex.i) AS dv
      |  FROM ex JOIN sc USING (vec_id) GROUP BY ex.vec_id),
      |qc AS (
      |  SELECT t.query_id, t.neighbor_id,
      |    list_dot_product(q.qv, dq.dv) /
      |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(dq.dv, dq.dv))) AS q_cos_sim
      |  FROM topk t
      |  JOIN q ON q.query_id = t.query_id
      |  JOIN dq ON dq.vec_id = t.neighbor_id)
      |SELECT t.query_id, t.rank, t.neighbor_id, t.cos_sim, qc.q_cos_sim,
      |  ABS(t.cos_sim - qc.q_cos_sim) AS recon_err
      |FROM topk t
      |JOIN qc ON qc.query_id = t.query_id AND qc.neighbor_id = t.neighbor_id
      |ORDER BY t.query_id, t.rank""".stripMargin

  // -- mutual k-NN graph ------------------------------------------------------
  /** k-NN GRAPH construction — the input to graph-based diversity
    * sampling and semantic clustering: top-5 neighbors per vector with
    * a MUTUAL flag (both endpoints list each other). Scoring rides
    * [[graft.ops.Similarity.ivfTopK]] at nProbe = nCells (exhaustive
    * on the isotropic fixture, so the oracle is the exact all-pairs
    * window); at 100 TB the same query runs pruned — nCells ∝ √n,
    * nProbe fixed — which is the IVF regime AnnPruningSpec
    * demonstrates on clustered corpora. Self-matches are excluded by
    * ranking k+1 then re-ranking the non-self survivors (duplicate
    * vectors may outrank self on the id tie-break, so self is dropped
    * by VALUE, not by assuming rank 1). The mutual flag is one
    * self-equi-join of the edge list on the reversed key.
    */
  def annKnnGraph(s: SparkSession, dir: String): DataFrame = {
    val sub = embs(s, dir).filter(pmod(col("vec_id"), lit(8)) === 0)
    val base = Similarity.ivfTopK(sub, sub, "vec_id", "embedding",
      nCells = 16, nProbe = 16, k = 6)
    val w = Window.partitionBy("query_id").orderBy("rank")
    val edges = base.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rank2", row_number().over(w).cast("long"))
      .filter(col("rank2") <= 5)
      .select(col("query_id"), col("rank2").as("rank"),
        col("neighbor_id"), col("cos_sim"))
    val rev = edges.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("__mut"))
    edges.join(rev, Seq("query_id", "neighbor_id"), "left")
      .withColumn("mutual", coalesce(col("__mut"), lit(false)))
      .drop("__mut")
      .orderBy("query_id", "rank")
  }

  val annKnnGraphSql: String =
    """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id % 8 = 0),
      |p AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      |  FROM s a JOIN s b ON b.vec_id <> a.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM p),
      |k AS (SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, cos_sim
      |      FROM r WHERE rnk <= 5)
      |SELECT k.query_id, k.rank, k.neighbor_id, k.cos_sim,
      |  EXISTS(SELECT 1 FROM k k2 WHERE k2.query_id = k.neighbor_id
      |           AND k2.neighbor_id = k.query_id) AS mutual
      |FROM k ORDER BY query_id, rank""".stripMargin

  // -- IVF recall audit -------------------------------------------------------
  /** Recall@5 of the IVF index against exact brute force, swept across
    * nProbe — THE quality metric an ANN deployment tunes (the
    * recall-vs-probe-budget curve; faiss's recall-QPS plot in query
    * form). Centroids are the nCells SMALLEST ids for this audit (a
    * SQL-expressible draw — ids are synthetic and carry no geometry,
    * so it is as unbiased as the default hash draw, and the oracle can
    * rebuild the index EXACTLY, assignment/probe/rank tiebreaks
    * included). Every query recovers at least itself (its own cell is
    * its nearest centroid), so n_queries is recoverable from the hit
    * frame and no scalar broadcast is needed; recall = hits/(5·nq) is
    * one division, same order both engines. At scale this is the audit
    * you run on a SAMPLE before fixing the fleet's nProbe.
    */
  def annRecallAudit(s: SparkSession, dir: String): DataFrame = {
    val sub = embs(s, dir).filter(pmod(col("vec_id"), lit(8)) === 0)
    val q = sub.filter(pmod(col("vec_id"), lit(64)) === 0)
    val exact = Similarity.bruteForceTopK(sub, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
    val ivf = Seq(1, 4, 16).map { p =>
      Similarity.ivfTopK(sub, q, "vec_id", "embedding",
          nCells = 16, nProbe = p, k = 5, centroidOrder = Some(col("cell")))
        .select(lit(p.toLong).as("nprobe"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    ivf.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / (col("n_queries") * 5).cast("double"))
      .orderBy("nprobe")
  }

  val annRecallAuditSql: String =
    """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id % 8 = 0),
      |cents AS (SELECT vec_id AS cell, v AS cv FROM s ORDER BY vec_id LIMIT 16),
      |asg AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT s.vec_id, s.v, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY
      |        list_dot_product(s.v, c.cv) /
      |          (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |        c.cell) AS rn
      |    FROM s CROSS JOIN cents c)
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS query_id, v AS qv FROM s WHERE vec_id % 64 = 0),
      |np AS (SELECT * FROM (VALUES (1), (4), (16)) AS t(nprobe)),
      |pr AS (
      |  SELECT query_id, qv, cell, crank FROM (
      |    SELECT q.query_id, q.qv, c.cell,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      |        list_dot_product(q.qv, c.cv) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |        c.cell) AS crank
      |    FROM q CROSS JOIN cents c)),
      |ivf AS (
      |  SELECT nprobe, query_id, neighbor_id FROM (
      |    SELECT np.nprobe, pr.query_id, a.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY np.nprobe, pr.query_id ORDER BY
      |        list_dot_product(pr.qv, a.v) /
      |          (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(a.v, a.v))) DESC,
      |        a.vec_id) AS rnk
      |    FROM pr JOIN np ON pr.crank <= np.nprobe
      |         JOIN asg a ON a.cell = pr.cell)
      |  WHERE rnk <= 5),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.query_id, s.vec_id AS neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
      |        list_dot_product(q.qv, s.v) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(s.v, s.v))) DESC,
      |        s.vec_id) AS rnk
      |    FROM q CROSS JOIN s)
      |  WHERE rnk <= 5)
      |SELECT CAST(ivf.nprobe AS BIGINT) AS nprobe,
      |  CAST(COUNT(DISTINCT ivf.query_id) AS BIGINT) AS n_queries,
      |  COUNT(*) AS n_hits,
      |  CAST(COUNT(*) AS DOUBLE) / (COUNT(DISTINCT ivf.query_id) * 5) AS recall
      |FROM ivf JOIN exact USING (query_id, neighbor_id)
      |GROUP BY ivf.nprobe ORDER BY nprobe""".stripMargin

  // -- semantic communities over the mutual kNN graph -------------------------
  /** Connected components over the MUTUAL-kNN edge set (the standard
    * mutual-kNN clustering step downstream of `ann_knn_graph`: mutual
    * edges are the noise-robust ones, and their components are the
    * semantic communities diversity sampling draws from). Same
    * exhaustive-regime IVF construction as `ann_knn_graph` (oracle =
    * exact all-pairs top-5), mutual filter = one reversed-key
    * self-equi-join, CC = pointer doubling (O(log d) rounds), labels
    * joined back for interpretability. Never pairwise in the corpus —
    * the edge set is ≤ 5n before the mutual filter.
    */
  def annGraphComponents(s: SparkSession, dir: String): DataFrame = {
    val sub = embs(s, dir).filter(pmod(col("vec_id"), lit(8)) === 0)
    val base = Similarity.ivfTopK(sub, sub, "vec_id", "embedding",
      nCells = 16, nProbe = 16, k = 6)
    val w = Window.partitionBy("query_id").orderBy("rank")
    val top5 = base.filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("rank2", row_number().over(w))
      .filter(col("rank2") <= 5)
      .select("query_id", "neighbor_id")
    val rev = top5.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("__mut"))
    val mutual = top5.join(rev, Seq("query_id", "neighbor_id"))
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
    val cl = Dedup.dupClusters(sub.select("vec_id"), "vec_id", mutual)
      .select(col("vec_id"), col("cluster_id").as("component"),
        col("cluster_size").as("comp_size"))
    sub.select("vec_id", "label").join(cl, "vec_id")
      .select("vec_id", "label", "component", "comp_size")
      .orderBy("vec_id")
  }

  val annGraphComponentsSql: String =
    """WITH RECURSIVE s AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id % 8 = 0),
      |p AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      |  FROM s a JOIN s b ON b.vec_id <> a.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM p),
      |k AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 5),
      |m AS (
      |  SELECT k.query_id AS a, k.neighbor_id AS b FROM k
      |  WHERE EXISTS(SELECT 1 FROM k k2 WHERE k2.query_id = k.neighbor_id
      |                 AND k2.neighbor_id = k.query_id)
      |    AND k.query_id < k.neighbor_id),
      |edges AS (SELECT a, b FROM m UNION SELECT b, a FROM m),
      |reach(id, lab) AS (
      |  SELECT vec_id, vec_id FROM s
      |  UNION
      |  SELECT e.b, r2.lab FROM reach r2 JOIN edges e ON e.a = r2.id),
      |lab AS (SELECT id, MIN(lab) AS component FROM reach GROUP BY id),
      |cs AS (SELECT component, COUNT(*) AS comp_size FROM lab GROUP BY 1)
      |SELECT s.vec_id, s.label, lab.component,
      |  CAST(cs.comp_size AS BIGINT) AS comp_size
      |FROM s JOIN lab ON lab.id = s.vec_id JOIN cs USING (component)
      |ORDER BY s.vec_id""".stripMargin

  // -- per-dimension embedding statistics -------------------------------------
  /** Per-DIMENSION corpus statistics — the normalization /
    * sanity-audit frame an embedding pipeline publishes (dead or
    * exploding dimensions, feature scaling): count, float min/max
    * (order-independent exact), and quantized integer sums /
    * sum-of-squares (round(x·1000) longs, the label-coherence
    * precedent) so the distributed aggregation is order-independent
    * exact math and hash-matches the oracle; mean_q is ONE double
    * division at the end. One posexplode + one 64-group aggregation —
    * map-side combined, ~linear, no global sort.
    */
  def embeddingDimStats(s: SparkSession, dir: String): DataFrame = {
    val qx = round(col("x").cast("double") * 1000).cast("long")
    embs(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("long").as("dim"), col("x"), qx.as("qx"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        min("x").as("min_v"), max("x").as("max_v"),
        sum("qx").as("sum_q"),
        sum(col("qx") * col("qx")).as("ssq_q"))
      .withColumn("mean_q", col("sum_q").cast("double") / col("n"))
      .orderBy("dim")
  }

  val embeddingDimStatsSql: String =
    """WITH ex AS (
      |  SELECT vec_id, i AS dim, embedding[i] AS x,
      |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qx
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i))
      |SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
      |  MIN(x) AS min_v, MAX(x) AS max_v,
      |  CAST(SUM(qx) AS BIGINT) AS sum_q,
      |  CAST(SUM(qx * qx) AS BIGINT) AS ssq_q,
      |  CAST(SUM(qx) AS DOUBLE) / COUNT(*) AS mean_q
      |FROM ex GROUP BY dim ORDER BY dim""".stripMargin

  // -- exact second-moment (covariance precursor) matrix ------------------------
  /** [[graft.ops.Covariance.moments]] — the exact d×d upper-triangle
    * second-moment matrix over fixed-point-quantized embeddings (q =
    * round(x·10⁴)), the PCA/whitening/decorrelation input. Float sums
    * depend on addition order, so the repo's integer-exact doctrine
    * applies: quantize once, accumulate exact integer Σq_i·q_j, Σq_i,
    * n — identical under any partitioning, replay, or engine.
    * Plan = ONE pass with a mergeable d(d+1)/2-slot array `Aggregator`
    * (per-row local O(d²) multiply-add sweep — the irreducible
    * covariance work; shuffle = one buffer per partition; driver holds
    * ONE ≤d(d+3)/2+1-slot summary). The oracle's pairs-explode
    * (n·d(d+1)/2 shuffled rows) is exactly the plan this operator
    * exists to avoid at 100 TB.
    */
  def embeddingCovariance(s: SparkSession, dir: String): DataFrame =
    graft.ops.Covariance.moments(embs(s, dir), "embedding", d = 64)
      .orderBy("i", "j")

  val embeddingCovarianceSql: String =
    """WITH ex AS (
      |  SELECT vec_id, i,
      |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT) AS q
      |  FROM embeddings,
      |    LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)),
      |m AS (
      |  SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS s_xy
      |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY a.i, b.i),
      |s AS (SELECT i, CAST(SUM(q) AS BIGINT) AS s_i FROM ex GROUP BY i),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
      |SELECT m.i, m.j, m.s_xy, sa.s_i AS s_x, sb.s_i AS s_y, n.n
      |FROM m JOIN s sa ON sa.i = m.i JOIN s sb ON sb.i = m.j CROSS JOIN n
      |ORDER BY m.i, m.j""".stripMargin

  // -- deterministic integer-exact PCA projection ------------------------------
  /** [[graft.ops.Pca]] — the CONSUMER of row 103's moment frame: the
    * top-2 principal directions derived from the exact moments by an
    * integer power iteration (40 steps, max-norm ±10⁴ grid, per-step
    * exact integer Gram–Schmidt for component 2 — orthogonality by
    * construction, not convergence), then applied as one codegen'd
    * integer dot product per row. ONE distributed moment pass +
    * O(d²·steps) driver arithmetic on the control summary + ONE
    * map-side projection pass; no shuffle beyond the moment
    * aggregate's buffer-per-partition combine. The oracle is
    * GENERATED ([[graft.ops.Pca.pcaOracleSql]]) and replays the
    * whole derivation — scatter, grid normalization, every power
    * step, the sign fix, the orthogonalization, the projection — in
    * DuckDB integer/HUGEINT arithmetic, so the driver gate certifies
    * the Scala derivation ≡ the SQL derivation bit-for-bit, not just
    * the final projection.
    */
  def embeddingPcaProject(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val mom = graft.ops.Covariance.moments(e, "embedding", d = 64).collect()
    val comps = graft.ops.Pca.topComponents(mom, d = 64, k = 2)
    val q = graft.ops.Covariance.quantized("embedding")
    e.select(col("vec_id"), col("label"),
        graft.ops.Pca.project(q, comps(0)).as("p1"),
        graft.ops.Pca.project(q, comps(1)).as("p2"))
      .orderBy("vec_id")
  }

  val embeddingPcaProjectSql: String = graft.ops.Pca.pcaOracleSql(k = 2)

  // -- k-NN join within labels ------------------------------------------------
  def knnJoin(s: SparkSession, dir: String): DataFrame =
    Similarity.knnJoinWithinGroups(embs(s, dir), "vec_id", "embedding", "label", k = 3)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("id_a", "rank")

  val knnJoinSql: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (
      |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
      |SELECT label, id_a, CAST(rnk AS BIGINT) AS rank, id_b, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos_sim DESC, id_b) AS rnk
      |  FROM s)
      |WHERE rnk <= 3 ORDER BY id_a, rank""".stripMargin

  // -- dup clustering: connected components over verified pairs ---------------
  /** Shared edge set for clustering (`dedup_clusters`) and corpus
    * materialization (`dedup_apply`): the LINEAR edge set — verified
    * REP pairs (LSH candidates passing exact Jaccard >= 0.8) plus
    * member→rep star edges — connectivity-identical to the exhaustive
    * pair list, but a B-identical cluster contributes B−1 edges, never
    * B²/2. 32 hashes in 16 bands of 2 suffice for candidate RECALL
    * (miss = (1-J²)^16 = 8e-8 at J = 0.8, ~1e-19 at dup-grade J) — the
    * verify stage owns precision, so the cheaper signature wins.
    */
  private def clusterEdges(d: DataFrame): DataFrame =
    Dedup.verifiedDupEdges(d, "doc_id", "text", threshold = 0.8,
      numHashes = 32, bands = 16)

  /** Its DuckDB twin: transitive closure by recursive CTE over the
    * same J ≥ 0.8 edge set, canonical id = component min — appended
    * after [[allPairsJaccardCte]] in a WITH RECURSIVE.
    */
  private val closureCte: String =
    """e1 AS (SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= 0.8),
      |edges AS (SELECT a, b FROM e1 UNION SELECT b, a FROM e1),
      |reach(id, lab) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id),
      |lab AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.dupClusters(d, "doc_id", clusterEdges(d)).orderBy("doc_id")
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $allPairsJaccardCte,
      |$closureCte,
      |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
      |SELECT l.id AS doc_id, l.cluster_id,
      |  CAST(c.cluster_size AS BIGINT) AS cluster_size,
      |  l.id <> l.cluster_id AS is_dup
      |FROM lab l JOIN csz c USING (cluster_id) ORDER BY doc_id""".stripMargin

  // -- materialize the deduplicated corpus ------------------------------------
  /** The ship-it step after clustering: keep each cluster's CANONICAL
    * document (min doc_id — exact dups and near-dups both collapse)
    * and report per-source retention — what a curation run publishes
    * next to the cleaned corpus. Same linear edge set as
    * `dedup_clusters`; the keep-set anti-join shape is one
    * broadcast-able semi-join at scale.
    */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val cl = Dedup.dupClusters(d, "doc_id", clusterEdges(d))
    d.join(cl.select("doc_id", "is_dup"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_kept"),
        coalesce(sum(when(!col("is_dup"), col("n_chars"))), lit(0L)).as("kept_chars"))
      .orderBy("source")
  }

  val dedupApplySql: String =
    s"""WITH RECURSIVE $allPairsJaccardCte,
      |$closureCte
      |SELECT d.source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN l.id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(COALESCE(SUM(CASE WHEN l.id = l.cluster_id THEN d.n_chars END), 0) AS BIGINT) AS kept_chars
      |FROM documents d JOIN lab l ON l.id = d.doc_id
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // -- embedding-cosine near-dup pairs ----------------------------------------
  /** Threshold 0.45 because the isotropic test corpus tops out at cos
    * ≈ 0.53 (a 0.8-grade threshold would be vacuously empty here);
    * nPlanes=4 × nTables=64 gives per-pair miss < 4e-6 at cos 0.45 with a quarter of the per-table collision load of shallower tables, so
    * the bucketed pair set equals the exact all-pairs answer.
    */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDups(embs(s, dir), "vec_id", "embedding",
        nPlanes = 4, nTables = 64, threshold = 0.45)
      .orderBy("id_a", "id_b")

  val dedupEmbeddingCosineSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      |  FROM e a JOIN e b ON b.vec_id > a.vec_id)
      |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.45
      |ORDER BY id_a, id_b""".stripMargin

  // -- materialize the semantically-deduplicated embedding corpus -------------
  /** The ship-it step for EMBEDDING dedup (vector sibling of
    * `dedup_apply`): connected components over the verified near-dup
    * pair graph (the same recall-guaranteed LSH edge set
    * `dedup_embedding_cosine` proves exact), canonical = each
    * cluster's min vec_id, and per-LABEL retention stats — the audit a
    * semantic-dedup pass publishes before a training run consumes the
    * survivors. Edge set is linear in true near-dups, CC is
    * pointer-doubling (O(log d) rounds), the per-label rollup is one
    * aggregation; nothing here is pairwise in the corpus.
    */
  def dedupEmbeddingApply(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val edges = Similarity.embeddingNearDups(e, "vec_id", "embedding",
      nPlanes = 4, nTables = 64, threshold = 0.45).select("id_a", "id_b")
    val cl = Dedup.dupClusters(e.select("vec_id"), "vec_id", edges)
    e.join(cl.select("vec_id", "is_dup"), "vec_id")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("label")
  }

  val dedupEmbeddingApplySql: String =
    """WITH RECURSIVE ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib
      |  FROM ev a JOIN ev b ON b.vec_id > a.vec_id
      |  WHERE list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45),
      |edges AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
      |reach(id, lab) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.id),
      |lab AS (SELECT id, MIN(lab) AS cluster_id FROM reach GROUP BY id)
      |SELECT m.label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CASE WHEN l.id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM embeddings m JOIN lab l ON l.id = m.vec_id
      |GROUP BY m.label ORDER BY m.label""".stripMargin

  // -- incremental embedding near-dup against a prebuilt vector index --------
  /** The nightly EMBEDDING dedup pass: new vectors (vec_id % 4 == 0)
    * probe an index built from the standing corpus — the corpus is
    * never re-hashed (same O(batch) contract as `dedup_incremental`
    * for text). Fixed 4×64 LSH (per-pair candidate-miss < 4e-6 at cos
    * 0.45 on this corpus, same provable-recall regime as
    * `dedup_embedding_cosine`), so the output equals the exhaustive
    * oracle filtered to pairs touching the batch.
    */
  def dedupEmbeddingIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val batch = e.filter(pmod(col("vec_id"), lit(4)) === 0)
    val corpus = e.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val ix = Similarity.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      nPlanes = 4, nTables = 64)
    Similarity.incrementalVecDupPairs(batch, ix, "vec_id", "embedding",
      threshold = 0.45).orderBy("id_a", "id_b")
  }

  val dedupEmbeddingIncrementalSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      |  FROM e a JOIN e b ON b.vec_id > a.vec_id)
      |SELECT id_a, id_b, cos_sim FROM p
      |WHERE cos_sim >= 0.45 AND (id_a % 4 = 0 OR id_b % 4 = 0)
      |ORDER BY id_a, id_b""".stripMargin

  // -- multimodal pipeline (REAL ImageIO decode for images, REAL WAV
  // decode for audio, REAL RIFF/AVI chunk-walk decode for video; every
  // checked column oracle-recomputable) -----------------------------------
  def multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.pipeline(docs(s, dir), "doc_id", "text").orderBy("doc_id")

  /** Image rows carry a real PNG (gradient fixture: pixel = base+x+y,
    * base = id%128, dims from the id) that Spark decodes with ImageIO;
    * the oracle recomputes the decoded dims, pixel sum (closed form
    * w*h*base + h*w(w-1)/2 + w*h(h-1)/2), the checksum md5("WxH:sum"),
    * and the mean — so a decoder returning wrong pixels hash-fails.
    * Audio rows carry a real WAV (PCM ramp: sample(i) = base + i%13,
    * n = w*h*4 samples) decoded with javax.sound.sampled; the oracle
    * recomputes the sample sum in closed form (base*n + 78*(n//13) +
    * r*(r-1)/2), the md5("pcm:n:sum") checksum, and the mean. Video
    * rows carry a REAL uncompressed RIFF/AVI (4 DIB frames, frame f
    * pixel = base+x+y+f) parsed by the hand-rolled chunk walk; the
    * oracle recomputes the all-frame pixel sum in closed form
    * (4·(w·h·base + h·w(w−1)/2 + w·h(h−1)/2) + 6·w·h), the
    * md5("vid:WxH:4:sum") checksum, the decoded dims and the mean —
    * so a parser returning wrong frames/pixels hash-fails.
    */
  val multimodalSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS media_type,
      |    CAST(doc_id % 16 + 8 AS INTEGER) AS w,
      |    CAST((doc_id // 16) % 16 + 8 AS INTEGER) AS h,
      |    CAST(doc_id % 128 AS INTEGER) AS base
      |  FROM documents),
      |s AS (
      |  SELECT *,
      |    CAST(w AS BIGINT) * h * base + CAST(h AS BIGINT) * (w * (w - 1) // 2)
      |      + CAST(w AS BIGINT) * (h * (h - 1) // 2) AS px_sum,
      |    CAST(w AS BIGINT) * h * 4 AS a_n
      |  FROM m),
      |s2 AS (
      |  SELECT *,
      |    CAST(base AS BIGINT) * a_n + 78 * (a_n // 13)
      |      + ((a_n % 13) * (a_n % 13 - 1)) // 2 AS a_sum,
      |    4 * px_sum + 6 * CAST(w AS BIGINT) * h AS v_sum
      |  FROM s)
      |SELECT doc_id, media_type,
      |  CASE WHEN media_type = 'image' THEN CAST(w * h AS BIGINT)
      |       ELSE a_n END AS n_bytes,
      |  CASE WHEN media_type = 'image'
      |       THEN md5(CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) || ':' || CAST(px_sum AS VARCHAR))
      |       WHEN media_type = 'audio'
      |       THEN md5('pcm:' || CAST(a_n AS VARCHAR) || ':' || CAST(a_sum AS VARCHAR))
      |       ELSE md5('vid:' || CAST(w AS VARCHAR) || 'x' || CAST(h AS VARCHAR) ||
      |                ':4:' || CAST(v_sum AS VARCHAR)) END AS checksum,
      |  CASE WHEN media_type = 'image'
      |       THEN CAST(px_sum AS DOUBLE) / (w * h) / 255.0
      |       WHEN media_type = 'audio'
      |       THEN CAST(a_sum AS DOUBLE) / a_n / 255.0
      |       ELSE CAST(v_sum AS DOUBLE) / a_n / 255.0 END AS f0,
      |  CASE WHEN media_type = 'audio' THEN 0 ELSE w END AS img_w,
      |  CASE WHEN media_type = 'audio' THEN 0 ELSE h END AS img_h,
      |  -- video rows fan out to their 4 decoded frames
      |  CASE WHEN doc_id % 3 = 2 THEN CAST(4 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS n_frames
      |FROM s2 ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (dedupExact _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_prefix" -> (dedupPrefix _),
    "dedup_url" -> (dedupUrl _),
    "dedup_substrings" -> (dedupSubstrings _),
    "dedup_lines" -> (dedupLines _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "text_quality_score" -> (textQuality _),
    "text_gopher_filters" -> (textGopherFilters _),
    "text_pii_scrub" -> (textPiiScrub _),
    "data_chunk_overlap" -> (dataChunkOverlap _),
    "text_langid" -> (textLangid _),
    "text_token_count" -> (textTokenCount _),
    "text_bpe_apply" -> (textBpeApply _),
    "text_ngram_stats" -> (textNgramStats _),
    "text_rare_token_stats" -> (textRareTokens _),
    "data_split_stratified" -> (dataSplitStratified _),
    "data_decontamination" -> (dataDecontamination _),
    "data_decontamination_bloom" -> (dataDecontaminationBloom _),
    "data_sample_by_source" -> (dataSampleBySource _),
    "data_shard_assign" -> (dataShardAssign _),
    "data_source_caps" -> (dataSourceCaps _),
    "data_curriculum_buckets" -> (dataCurriculumBuckets _),
    "data_curriculum_cutpoints" -> (dataCurriculumCutpoints _),
    "embedding_label_coherence" -> (embeddingLabelCoherence _),
    "embedding_kmeans" -> (embeddingKmeans _),
    "dedup_semantic" -> (dedupSemantic _),
    "sketch_distinct_kmv" -> (sketchDistinctKmv _),
    "sketch_quantiles_sampled" -> (sketchQuantilesSampled _),
    "data_sample_uniform_k" -> (dataSampleUniformK _),
    "data_sample_weighted" -> (dataSampleWeighted _),
    "sketch_heavy_hitters" -> (sketchHeavyHitters _),
    "sketch_count_min" -> (sketchCountMin _),
    "data_quantiles_exact" -> (dataQuantilesExact _),
    "data_length_trim" -> (dataLengthTrim _),
    "data_zorder_layout" -> (dataZorderLayout _),
    "text_tfidf_top_terms" -> (textTfidfTopTerms _),
    "text_lm_perplexity" -> (textLmPerplexity _),
    "text_lm_perplexity_bounded" -> (textLmPerplexityBounded _),
    "text_lm_buckets" -> (textLmBuckets _),
    "text_lm_buckets_ranged" -> (textLmBucketsRanged _),
    "ann_recall_audit" -> (annRecallAudit _),
    "text_code_detect" -> (textCodeDetect _),
    "data_snapshot_drift" -> (dataSnapshotDrift _),
    "data_decontamination_semantic" -> (dataDecontaminationSemantic _),
    "data_span_corruption" -> (dataSpanCorruption _),
    "data_vocab_coverage" -> (dataVocabCoverage _),
    "data_interleave_order" -> (dataInterleaveOrder _),
    "data_interleave_order_ranged" -> (dataInterleaveOrderRanged _),
    "embedding_quantize_int8" -> (embeddingQuantizeInt8 _),
    "data_mix_weights" -> (dataMixWeights _),
    "data_mix_plan" -> (dataMixPlan _),
    "data_repeat_upsample" -> (dataRepeatUpsample _),
    "data_budget_cut" -> (dataBudgetCut _),
    "data_epoch_order" -> (dataEpochOrder _),
    "data_pack_sequences" -> (dataPackSequences _),
    "data_pack_sequences_ranged" -> (dataPackSequencesRanged _),
    "data_contamination_ngram" -> (dataContaminationNgram _),
    "text_repetition" -> (textRepetition _),
    "text_fingerprint" -> (textFingerprint _),
    "ann_bruteforce_cosine" -> (annBruteforce _),
    "ann_lsh_cosine" -> (annLsh _),
    "ann_ivf_cosine" -> (annIvf _),
    "ann_ivf_pq" -> (annIvfPq _),
    "ann_knn_graph" -> (annKnnGraph _),
    "ann_graph_components" -> (annGraphComponents _),
    "embedding_dim_stats" -> (embeddingDimStats _),
    "embedding_covariance" -> (embeddingCovariance _),
    "embedding_pca_project" -> (embeddingPcaProject _),
    "embedding_knn_join" -> (knnJoin _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_embedding_incremental" -> (dedupEmbeddingIncremental _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_apply" -> (dedupApply _),
    "dedup_embedding_apply" -> (dedupEmbeddingApply _),
    "corpus_curation_e2e" -> (corpusCurationE2e _),
    "corpus_training_manifest" -> (corpusTrainingManifest _),
    "dedup_ngram_coverage" -> (dedupNgramCoverage _),
    "multimodal_pipeline" -> (multimodal _))

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_prefix" -> dedupPrefixSql,
    "dedup_url" -> dedupUrlSql,
    "dedup_substrings" -> dedupSubstringsSql,
    "dedup_lines" -> dedupLinesSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_apply" -> dedupApplySql,
    "dedup_embedding_apply" -> dedupEmbeddingApplySql,
    "corpus_curation_e2e" -> corpusCurationE2eSql,
    "corpus_training_manifest" -> corpusTrainingManifestSql,
    "dedup_ngram_coverage" -> dedupNgramCoverageSql,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineSql,
    "dedup_embedding_incremental" -> dedupEmbeddingIncrementalSql,
    "text_quality_score" -> textQualitySql,
    "text_gopher_filters" -> textGopherFiltersSql,
    "text_pii_scrub" -> textPiiScrubSql,
    "data_chunk_overlap" -> dataChunkOverlapSql,
    "text_langid" -> textLangidSql,
    "text_token_count" -> textTokenCountSql,
    "text_bpe_apply" -> textBpeApplySql,
    "text_ngram_stats" -> textNgramStatsSql,
    "text_rare_token_stats" -> textRareTokensSql,
    "data_split_stratified" -> dataSplitSql,
    "data_decontamination" -> dataDecontaminationSql,
    // the bloom-prefiltered mode must produce a BIT-IDENTICAL report —
    // it shares the exact mode's oracle (the curriculum precedent)
    "data_decontamination_bloom" -> dataDecontaminationSql,
    "data_sample_by_source" -> dataSampleBySourceSql,
    "data_shard_assign" -> dataShardAssignSql,
    "data_source_caps" -> dataSourceCapsSql,
    "data_curriculum_buckets" -> dataCurriculumBucketsSql,
    // the cutpoint mode must produce BIT-IDENTICAL buckets — it shares
    // the exact mode's ntile oracle, so the driver proves equivalence
    "data_curriculum_cutpoints" -> dataCurriculumBucketsSql,
    "embedding_label_coherence" -> embeddingLabelCoherenceSql,
    "embedding_kmeans" -> embeddingKmeansSql,
    "dedup_semantic" -> dedupSemanticSql,
    "sketch_distinct_kmv" -> sketchDistinctKmvSql,
    "sketch_quantiles_sampled" -> sketchQuantilesSampledSql,
    "data_sample_uniform_k" -> dataSampleUniformKSql,
    "data_sample_weighted" -> dataSampleWeightedSql,
    "sketch_heavy_hitters" -> sketchHeavyHittersSql,
    "sketch_count_min" -> sketchCountMinSql,
    "data_quantiles_exact" -> dataQuantilesExactSql,
    "data_length_trim" -> dataLengthTrimSql,
    "data_zorder_layout" -> dataZorderLayoutSql,
    "text_tfidf_top_terms" -> textTfidfTopTermsSql,
    "text_lm_perplexity" -> textLmPerplexitySql,
    "text_lm_perplexity_bounded" -> textLmPerplexityBoundedSql,
    "text_lm_buckets" -> textLmBucketsSql,
    // the forced range-rank mode shares the ntile oracle — the driver
    // gate itself proves the giant-source path ≡ per-source ntile
    "text_lm_buckets_ranged" -> textLmBucketsSql,
    "ann_recall_audit" -> annRecallAuditSql,
    "text_code_detect" -> textCodeDetectSql,
    "data_snapshot_drift" -> dataSnapshotDriftSql,
    "data_decontamination_semantic" -> dataDecontaminationSemanticSql,
    "data_span_corruption" -> dataSpanCorruptionSql,
    "data_vocab_coverage" -> dataVocabCoverageSql,
    "data_interleave_order" -> dataInterleaveOrderSql,
    // the forced prefix-sum mode shares the window oracle — the driver
    // gate itself proves the distributed position ≡ row_number
    "data_interleave_order_ranged" -> dataInterleaveOrderSql,
    "embedding_quantize_int8" -> embeddingQuantizeInt8Sql,
    "data_mix_weights" -> dataMixWeightsSql,
    "data_mix_plan" -> dataMixPlanSql,
    "data_repeat_upsample" -> dataRepeatUpsampleSql,
    "data_budget_cut" -> dataBudgetCutSql,
    "data_epoch_order" -> dataEpochOrderSql,
    "data_pack_sequences" -> dataPackSequencesSql,
    // the forced prefix-sum mode shares the window oracle — the driver
    // gate itself proves distributed packing ≡ the window packer
    "data_pack_sequences_ranged" -> dataPackSequencesSql,
    "data_contamination_ngram" -> dataContaminationNgramSql,
    "text_repetition" -> textRepetitionSql,
    "text_fingerprint" -> textFingerprintSql,
    "ann_bruteforce_cosine" -> annBruteforceSql,
    "ann_lsh_cosine" -> annLshSql,
    "ann_ivf_cosine" -> annIvfSql,
    "ann_ivf_pq" -> annIvfPqSql,
    "ann_knn_graph" -> annKnnGraphSql,
    "ann_graph_components" -> annGraphComponentsSql,
    "embedding_dim_stats" -> embeddingDimStatsSql,
    "embedding_covariance" -> embeddingCovarianceSql,
    "embedding_pca_project" -> embeddingPcaProjectSql,
    "embedding_knn_join" -> knnJoinSql,
    "multimodal_pipeline" -> multimodalSql)
}
