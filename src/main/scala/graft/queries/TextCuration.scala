package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.operators._
import Tables.{t, tp}

/** Text curation for LLM corpora: language ID, quality rules and
  * scores, normalization and PII redaction, exact/near/substring
  * dedup, sampling and mixing, decontamination, retrieval, BPE
  * tokenization and chunking, and the crawl-politeness chain.
  */
object TextCuration {

  /** Shared entity-name synthesis for the entity-resolution queries:
    * 200 md5-derived base names, four deterministic typo variants
    * (deletion / insertion / substitution / clean) keyed by
    * doc_id % 7. Both DuckDB oracles replay this construction
    * verbatim — change it in all four places or the pair/cluster
    * queries diverge.
    */
  private def entityNames(docs: DataFrame): DataFrame = {
    val b = concat(lit("e-"),
      substring(md5((col("doc_id") % 200).cast("string")), 1, 8))
    val name = when(col("doc_id") % 7 === 0, substring(b, 1, 9))
      .when(col("doc_id") % 7 === 1, concat(b, lit("x")))
      .when(col("doc_id") % 7 === 2,
        concat(substring(b, 1, 4), lit("z"), substring(b, 6, 5)))
      .otherwise(b)
    docs.select(col("doc_id"), name.as("name"))
  }

  // Pinned BPE merge table for q_bpe_encode (order IS the rank;
  // later merges consume earlier ones' outputs — "t"+"h" → "th",
  // then "th"+"e" → "the"; the final merge's space-bearing token
  // pins whitespace handling on both engines).
  private val BpeFixedMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("r", "e"),
    ("o", "n"), ("e", "r"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("in", "g"), ("t", "o"), ("i", "t"), ("i", "s"),
    ("e", "s"), ("a", "l"), ("o", "u"), ("s", "t"), ("the", " "))

  def specs: Seq[QuerySpec] = Seq(
    // ----- near-exact dedup via normalized fingerprint GROUPING
    QuerySpec("q_dedup_fingerprint",
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         FROM documents
         GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.byFingerprint(d, "text", "doc_id")
        .select(col("doc_id"), col("n_dups"))
    }),
    // ----- dedup: incremental batch-vs-corpus (every-5th doc plays the
    // incoming crawl increment; the rest is the standing corpus)
    QuerySpec("q_dedup_increment",
      """WITH np AS (SELECT doc_id, source, n_chars,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
         FROM documents WHERE doc_id % 5 = 0),
       known AS (SELECT DISTINCT
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
         FROM documents WHERE doc_id % 5 <> 0)
       SELECT doc_id, source, n_chars
       FROM np ANTI JOIN known USING (fp)
       QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.dedupIncrement(
        d.filter(col("doc_id") % 5 === 0),
        d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    // ----- dedup: exact substring (repeated-span) exposure — positional
    // 8-gram inverted index, cross-doc repeats only
    QuerySpec("q_substring_rep",
      substringRepOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      SubstringDedup.repeatedSpanStats(d, "doc_id", "text", n = 8)
    }),
    // ----- dedup: the span DELETE — scrub every cross-doc repeated
    // 8-gram from all but the smallest-id (keeper) document
    QuerySpec("q_substring_scrub",
      substringScrubOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      SubstringDedup.removeRepeatedSpans(d, "doc_id", "text", n = 8)
    }),
    // ----- curation: mix the corpus to a target source recipe
    // (50/30/20 over three sources, downsampling-only)
    QuerySpec("q_mix_corpus",
      // replays mixToTarget's arithmetic in the SAME IEEE operation
      // order (share = w/total, nstar = min(n/share), frac =
      // share*nstar/n) so the per-stratum cut doubles are bit-identical
      s"""WITH t AS (SELECT * FROM (VALUES
           ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE),
           ('src2', 0.2::DOUBLE)) v(src, w)),
       sh AS (SELECT src,
           w / (0.5::DOUBLE + 0.3::DOUBLE + 0.2::DOUBLE) AS share
         FROM t),
       c AS (SELECT source AS src, CAST(COUNT(*) AS DOUBLE) AS n
         FROM documents WHERE source IN ('src0', 'src1', 'src2')
         GROUP BY source),
       ns AS (SELECT MIN(n / share) AS nstar
         FROM c JOIN sh USING (src)),
       f AS (SELECT src,
           least(share * (SELECT nstar FROM ns) / n, 1.0::DOUBLE)
             AS frac
         FROM c JOIN sh USING (src))
       SELECT doc_id, source FROM documents
       JOIN f ON source = f.src
       WHERE ${hashScoreSql("doc_id")} < frac""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.mixToTarget(d, "doc_id", "source",
        scala.collection.immutable.ListMap(
          "src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source"))
    }),
    // ----- curation: quality-weighted Bernoulli downsampling — each
    // doc keeps with its own probability (here a length-derived weight),
    // deterministically by id
    QuerySpec("q_weighted_sample",
      s"""SELECT doc_id, source, n_chars FROM documents
         WHERE ${hashScoreSql("doc_id")} <
           least(greatest(CAST(n_chars AS DOUBLE) / 1000.0, 0.1), 1.0)""",
      (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("w", least(greatest(
          col("n_chars").cast("double") / 1000.0, lit(0.1)), lit(1.0)))
      Sampling.weightedSampleByHash(d, "doc_id", "w")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    // ----- absolute token budgets per source: hash-priority admission
    // until each source's budget is met (crossing doc included)
    QuerySpec("q_budget_sample",
      budgetSampleOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.budgetSample(d, "doc_id", "n_chars", "source",
          budgetSampleBudgets)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    // ----- temperature mixing (α=½): sources are artificially
    // imbalanced 1:20 by the doc_id-vs-suffix filter, then sampled
    // under sqrt-mass budgets — small sources keep proportionally
    // more than their mass share
    QuerySpec("q_temperature_mix",
      temperatureMixOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") % 20 <=
          expr("CAST(substring(source, 4) AS INT)"))
      Sampling.temperatureMix(d, "doc_id", "n_chars", "source",
          totalBudget = 30000L, alphaQuarters = 2)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    // ----- dedup: exact on the documents table
    QuerySpec("q_dedup_exact",
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
         FROM documents GROUP BY text""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.exact(d, Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_dups"))
    }),
    // ----- text analysis: token counting
    QuerySpec("q_token_count",
      """SELECT doc_id,
         length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), T.tokenCount(col("text")).as("n_tokens"))
    }),
    // ----- composite language ID: marker words where they speak,
    // else und-<Script> from script detection (same plants as
    // q_script_id so every branch is exercised)
    QuerySpec("q_lang_full",
      langFullOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val sample = when(col("doc_id") % 7 === 1,
          lit("Привет мир, это проверка кириллицы"))
        .when(col("doc_id") % 7 === 2, lit("你好世界这是中文测试文本"))
        .when(col("doc_id") % 7 === 3,
          lit("こんにちは世界 カタカナ テスト"))
        .when(col("doc_id") % 7 === 4,
          lit("안녕하세요 세계 한국어 텍스트"))
        .when(col("doc_id") % 7 === 5,
          lit("नमस्ते दुनिया यह हिंदी परीक्षण है"))
        .when(col("doc_id") % 7 === 6,
          lit("สวัสดีชาวโลก นี่คือข้อความภาษาไทย"))
        .otherwise(col("text"))
      d.select(col("doc_id"), T.langIdFull(sample).as("lang_full"))
    }),
    // ----- feature hashing: model-free text embedding, nonzero
    // coordinates exploded so the oracle replays buckets and signs
    QuerySpec("q_hash_vectorize",
      // same trim + \s+ token discipline as the simhash oracle; bucket
      // and sign replay the hash60 arithmetic exactly
      {
      val h = sqlHash60("tok")
      s"""WITH toks AS (SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
           FROM documents),
         hb AS (SELECT doc_id, ($h) AS h FROM toks),
         w AS (SELECT doc_id, h % 256 AS bucket,
             SUM(CASE WHEN (h // 256) % 2 = 1 THEN -1 ELSE 1 END)
               AS weight
           FROM hb GROUP BY 1, 2)
         SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(weight AS BIGINT) AS weight
         FROM w WHERE weight <> 0"""
    },
      (s, dir) => {
      val d = tp(s, dir, "documents")
      d.select(col("doc_id"),
          posexplode(T.hashingVector(col("text"), 256))
            .as(Seq("__b", "__w")))
        .filter(col("__w") =!= 0)
        .select(col("doc_id"), col("__b").cast("long").as("bucket"),
          col("__w").as("weight"))
    }),
    // ----- text analysis: quality scoring
    QuerySpec("q_text_quality",
      """SELECT doc_id, length(text) AS n_chars_m,
         ROUND(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
           / GREATEST(length(text), 1), 6) AS punct_ratio,
         ROUND(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from','this','be'], t))) AS DOUBLE)
           / GREATEST(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1), 6) AS stopword_ratio
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        T.charLen(col("text")).as("n_chars_m"),
        round(T.punctRatio(col("text")), 6).as("punct_ratio"),
        round(T.stopwordRatio(col("text")), 6).as("stopword_ratio"))
    }),
    // ----- text analysis: document fingerprint
    QuerySpec("q_fingerprint",
      """SELECT doc_id,
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), T.fingerprint(col("text")).as("fp"))
    }),
    // ----- text analysis: n-gram-heuristic language ID
    QuerySpec("q_lang_id",
      langIdOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), T.langId(col("text")).as("lang_id"))
    }),
    // ----- text analysis: composite quality score
    QuerySpec("q_quality_score",
      // Mirrors TextFunctions.qualityScore: four 0/1 gates × weights,
      // summed left-to-right. Every literal is cast to DOUBLE — a bare
      // 1.0 is DECIMAL in DuckDB and decimal arithmetic would not
      // reproduce Spark's double partial sums bit-for-bit.
      qualityScoreOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      d.select(col("doc_id"),
        T.qualityScore(col("text")).as("quality"))
    }),
    // ----- operating-point selection: exact confusion counts for
    // the rule label vs the quality score at pinned thresholds
    QuerySpec("q_threshold_metrics",
      thresholdMetricsOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val scored = d.select(
        T.qualityScore(col("text")).as("score"),
        T.qualityKeep(col("text")).cast("double").as("label"))
      Classifier.thresholdMetrics(scored, "score", "label",
        Seq(0.2, 0.45, 0.7, 0.95))
    }),
    // ----- text curation: canonical normalization (control chars ->
    // space, whitespace collapse, trim); tabs/newlines planted per-row
    QuerySpec("q_normalize_text",
      // same regex chain, RE2 dialect-compatible by construction
      """SELECT doc_id, trim(regexp_replace(regexp_replace(
           chr(9) || ' ' || text || chr(1) || chr(10) || source
             || '  end ',
           '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val messy = concat(lit("\t "), col("text"), lit("\u0001\n"),
        col("source"), lit("  end "))
      d.select(col("doc_id"), T.normalizeText(messy).as("norm"))
    }),
    // ----- text curation: Unicode NFC composition. Decomposed accents
    // (combining U+0301/U+0308) planted per-row; the kernel must
    // compose them so the fingerprint of composed and decomposed
    // spellings agrees. DuckDB nfc_normalize is the oracle.
    QuerySpec("q_nfc_normalize",
      // same decomposed plant via chr(); nfc_normalize = the kernel's
      // canonical composition, then the standard fingerprint strip
      """WITH m AS (SELECT doc_id,
           substr(text, 1, 40) || ' cafe' || chr(769) || ' touche' ||
             chr(769) || ' u' || chr(776) || 'ber' AS messy
         FROM documents)
         SELECT doc_id, nfc_normalize(messy) AS norm,
           md5(regexp_replace(lower(nfc_normalize(messy)),
             '[^a-z0-9]', '', 'g')) AS fp_nfc
         FROM m""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val messy = concat(substring(col("text"), 1, 40),
        lit(" cafe\u0301 touche\u0301 u\u0308ber")) // decomposed accents
      d.select(col("doc_id"),
        T.nfcNormalize(messy).as("norm"),
        T.fingerprintNfc(messy).as("fp_nfc"))
    }),
    // ----- text curation: URL -> registrable domain + blocklist flag
    // (URLs planted engine-identically from doc_id, like q_pii_redact)
    QuerySpec("q_url_domains",
      urlDomainsOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val withUrls = concat(col("text"),
        lit(" see https://sub"), col("doc_id") % 7,
        lit(".site"), col("doc_id") % 13,
        lit(".org/page/"), col("doc_id"),
        lit(" and http://ads"), col("doc_id") % 3,
        lit(".example.net/x"),
        lit(" plus https://shop.brand"), col("doc_id") % 5,
        lit(".co.uk/p"), // exercises the 2-label public-suffix path
        lit(" or https://www.dist"), col("doc_id") % 4,
        lit(".k12.ca.us/home")) // 3-label suffix: registers at label 4
      d.select(col("doc_id"),
          posexplode(T.urlDomains(withUrls))
            .as(Seq("url_idx", "domain")))
        .select(col("doc_id"), col("url_idx").cast("long"),
          col("domain"),
          col("domain").isin("site3.org", "site7.org").as("blocked"))
    }),
    // ----- URL canonicalization: mixed-case scheme/host, default
    // ports, fragments and tracking params planted engine-identically
    // from doc_id, then normalized to the dedup key form
    QuerySpec("q_url_normalize",
      // same plant, same RE2-compatible regexp chain (DuckDB backrefs
      // are \1-style and need the 'g' flag for global replacement)
      """WITH m AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://Sub'
                 ELSE 'HTTPS://Sub' END)
           || (doc_id % 7)::VARCHAR || '.Example.COM'
           || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
           || '/Article/' || doc_id::VARCHAR
           || (CASE WHEN doc_id % 3 = 0
                 THEN '?utm_source=news&id=' || (doc_id % 13)::VARCHAR
                      || '&fbclid=abc'
               WHEN doc_id % 3 = 1 THEN '?utm_campaign=x'
               ELSE '' END)
           || '#Section' || (doc_id % 5)::VARCHAR AS url
         FROM documents),
         n AS (SELECT doc_id, url,
           regexp_replace(url, '#.*$', '', 'g') AS nofrag FROM m),
         l AS (SELECT doc_id, url,
           lower(regexp_extract(nofrag,
             '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
           || regexp_replace(nofrag,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS low FROM n),
         p AS (SELECT doc_id, url,
           regexp_replace(regexp_replace(low,
             '^(http://[^/?#:]*):80([/?#].*)?$', '\1\2'),
             '^(https://[^/?#:]*):443([/?#].*)?$', '\1\2') AS noport
         FROM l),
         s AS (SELECT doc_id, url,
           regexp_replace(regexp_replace(regexp_replace(noport,
             '([?&])(?:utm_[^=&]*|gclid|fbclid)=[^&]*', '\1', 'g'),
             '([?&])&+', '\1', 'g'),
             '[?&]+$', '', 'g') AS canonical
         FROM p)
         SELECT doc_id, url, canonical FROM s""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://Sub"))
          .otherwise(lit("HTTPS://Sub")),
        col("doc_id") % 7, lit(".Example.COM"),
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
        lit("/Article/"), col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=news&id="), col("doc_id") % 13,
            lit("&fbclid=abc")))
          .when(col("doc_id") % 3 === 1, lit("?utm_campaign=x"))
          .otherwise(lit("")),
        lit("#Section"), col("doc_id") % 5)
      d.select(col("doc_id"), url.as("url"),
        T.normalizeUrl(url).as("canonical"))
    }),
    // ----- crawl politeness: RFC 9309 robots.txt — real files
    // through three formatting layouts (comments/CRLF/case noise,
    // decisions mode-invariant): group selection by agent
    // specificity, longest-pattern rule precedence, the $-anchored
    // wildcard, crawl-delay millis and the sitemap pointer all
    // replay closed-form
    QuerySpec("q_robots",
      // every decision/field replays closed-form: the planted rules
      // are fixed, only delay and the sitemap pointer carry the seed
      """SELECT doc_id,
         CAST(2 AS INT) AS n_groups, CAST(4 AS INT) AS n_rules,
         CAST((doc_id % 7 + 1) * 1000 AS BIGINT) AS crawl_delay_ms,
         'https://example.org/sm' || doc_id || '.xml' AS sitemap,
         FALSE AS graft_private, TRUE AS graft_ok,
         FALSE AS graft_pdf, TRUE AS graft_pdfx,
         TRUE AS graft_public, FALSE AS other_public
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val r = Robots.synthRobots(d, "doc_id", "__m", "content")
      Multimodal.decodeBatches(r, "content",
          Robots.robotsSchema)(Robots.decodeRobots)
        .select(col("doc_id"), col("n_groups"), col("n_rules"),
          col("crawl_delay_ms"), col("sitemap"),
          col("graft_private"), col("graft_ok"), col("graft_pdf"),
          col("graft_pdfx"), col("graft_public"), col("other_public"))
    }),
    // ----- the crawl chain END-TO-END for politeness: robots.txt
    // bodies arrive inside WARC records under the full HTTP framing
    // cycle (identity/chunked/gzip/deflate/zstd/BROTLI, doc_id%8) —
    // WARC walk → framing decode → RFC 9309 evaluation, decisions
    // replayed closed-form like q_robots
    QuerySpec("q_crawl_robots",
      // identical decisions to q_robots — the WARC + framing chain in
      // between must be transparent
      """SELECT doc_id,
         CAST(2 AS INT) AS n_groups, CAST(4 AS INT) AS n_rules,
         CAST((doc_id % 7 + 1) * 1000 AS BIGINT) AS crawl_delay_ms,
         'https://example.org/sm' || doc_id || '.xml' AS sitemap,
         FALSE AS graft_private, TRUE AS graft_ok,
         FALSE AS graft_pdf, TRUE AS graft_pdfx,
         TRUE AS graft_public, FALSE AS other_public
         FROM documents""",
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"),
        concat(lit("User-agent: GraftBot\nDisallow: /private/\n" +
          "Allow: /private/ok\nDisallow: /*.pdf$\nCrawl-delay: "),
          (col("doc_id") % 7 + 1).cast("string"),
          lit("\nUser-agent: *\nDisallow: /\n" +
            "Sitemap: https://example.org/sm"),
          col("doc_id"), lit(".xml\n")).as("__b"),
        (col("doc_id") % 8).cast("int").as("__f"),
        lit(0).cast("int").as("__c"))
      val warcs = Archive.synthHttpWarcs(d, "doc_id", "__b", "__f",
        "__c", "content")
      val bodies = Archive.warcRecordRowsAuto(warcs, "doc_id",
          "content")
        .filter(col("warc_type") === "response")
        .select(col("doc_id"),
          encode(col("body_text"), "UTF-8").as("robots_bytes"))
      Multimodal.decodeBatches(bodies, "robots_bytes",
          Robots.robotsSchema)(Robots.decodeRobots)
        .select(col("doc_id"), col("n_groups"), col("n_rules"),
          col("crawl_delay_ms"), col("sitemap"),
          col("graft_private"), col("graft_ok"), col("graft_pdf"),
          col("graft_pdfx"), col("graft_public"), col("other_public"))
    }),
    // ----- crawl frontier: sitemaps.org XML — urlset (plain and
    // namespace-prefixed/CDATA layouts) and sitemapindex through the
    // shared XML scanner; lastmod parses to exact epoch days,
    // priority to exact milli, and the per-doc aggregates replay
    // closed-form from the planted arithmetic
    QuerySpec("q_sitemap",
      // per-doc aggregates from the planted arithmetic: lastmod day
      // 18262 + (seed+i)%1000, priority milli ((seed+i)%10)*100,
      // daily on even (seed+i); sitemapindex rows carry dates only
      """WITH p AS (SELECT doc_id, doc_id % 5 + 2 AS n,
           doc_id % 3 AS m FROM documents),
         e AS (SELECT doc_id, n, m, t.i AS i
           FROM p, LATERAL unnest(generate_series(0, n - 1)) AS t(i))
         SELECT p.doc_id,
           CASE WHEN p.m = 2 THEN 'sitemapindex' ELSE 'urlset' END
             AS kind,
           CAST(p.n AS INT) AS n_urls,
           CASE WHEN p.m = 2 THEN 'https://example.org/sm' ||
               p.doc_id || '_0.xml'
             ELSE 'https://example.org/p' || p.doc_id || '_0'
             END AS first_loc,
           CAST((SELECT SUM(18262 + (e.doc_id + e.i) % 1000) FROM e
             WHERE e.doc_id = p.doc_id) AS BIGINT) AS lastmod_day_sum,
           CAST((SELECT CASE WHEN p.m = 2 THEN 0
             ELSE SUM(((e.doc_id + e.i) % 10) * 100) END FROM e
             WHERE e.doc_id = p.doc_id) AS BIGINT)
             AS priority_milli_sum,
           CAST((SELECT CASE WHEN p.m = 2 THEN 0
             ELSE SUM(CASE WHEN (e.doc_id + e.i) % 2 = 0 THEN 1
               ELSE 0 END) END FROM e
             WHERE e.doc_id = p.doc_id) AS INT) AS n_daily
         FROM p""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 5 + 2).cast("int").as("__n"),
        (col("doc_id") % 3).cast("int").as("__m"))
      val sm = Sitemap.synthSitemaps(d, "doc_id", "__n", "__m",
        "content")
      Multimodal.decodeBatches(sm, "content",
          Sitemap.sitemapSchema)(Sitemap.decodeSitemap)
        .select(col("doc_id"), col("kind"), col("n_urls"),
          col("first_loc"), col("lastmod_day_sum"),
          col("priority_milli_sum"), col("n_daily"))
    }),
    // ----- IDN hosts: the synthesizer converts a Unicode host to
    // its ACE (xn--) form with the JDK's OWN IDN implementation (an
    // independent reference), the operator decodes it back via the
    // from-spec RFC 3492 bootstring, and ALSO re-encodes — so both
    // directions pin against the reference inside the oracle
    QuerySpec("q_idn_hosts",
      // decode is the JDK-encoded ACE back to the planted Unicode
      // host; ace_roundtrip pins our ENCODER against the JDK's too
      """SELECT doc_id,
         'bücher' || (doc_id % 50) || '.ärger' || (doc_id % 7) ||
           '.例え.org' AS uni_host,
         TRUE AS ace_roundtrip
         FROM documents""",
      (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("bücher"), col("doc_id") % 50,
          lit(".ärger"), col("doc_id") % 7,
          lit(".例え.org")).as("__uni"))
      val ace = Idn.synthAceHosts(d, "__uni", "content")
      Multimodal.decodeBatches(ace, "content",
          Idn.idnSchema)(Idn.decodeIdnHost)
        .select(col("doc_id"), col("uni_host"), col("ace_roundtrip"))
    }),
    // ----- text curation: PII redaction. The synthetic corpus has no
    // PII, so the query plants engine-identically-constructed PII
    // (derived from doc_id) and asserts the redaction chain strips it.
    QuerySpec("q_pii_redact",
      piiRedactOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val withPii = concat(col("text"),
        lit(" reach user"), col("doc_id"),
        lit("@mail.example.org or host "),
        (col("doc_id") % 200) + 10,
        lit(".20.30.40, tel +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      d.select(col("doc_id"), T.redactPii(withPii).as("clean"))
    }),
    // ----- Luhn-validated card redaction: industry test numbers
    // (checksum-valid) must become <CARD>; the one-digit-off
    // near-miss must NOT — it falls through to the phone pass, which
    // is exactly the claimed semantic (regexes can't tell cards from
    // long numbers; the checksum can)
    QuerySpec("q_redact_cards",
      redactCardsOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" pay 4111 1111 1111 1111 now"))
          .when(col("doc_id") % 3 === 1,
            lit(" amex 378282246310005 ok"))
          .otherwise(lit(" card 5555-5555-5555-4444 used")),
        lit(" order 4111 1111 1111 1112 kept," +
          " ip 10.1.2.3, mail a@b.io"))
      d.select(col("doc_id"), T.redactPiiFull(planted).as("clean"))
    }),
    // ----- mod-97-validated IBAN redaction: real (checksum-valid)
    // IBANs — compact and print-spaced, one followed by a shaped
    // uppercase token the greedy regex swallows (the prefix search
    // must still redact the IBAN and keep REF7) — become <IBAN>; the
    // one-digit-off near-miss and the short invoice code survive
    QuerySpec("q_redact_iban",
      redactIbanOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit(" acct DE89370400440532013000 eom"))
          .when(col("doc_id") % 4 === 1,
            lit(" acct GB29 NWBK 6016 1331 9268 19 REF7 eom"))
          .when(col("doc_id") % 4 === 2,
            lit(" near DE89370400440532013001 eom"))
          .otherwise(lit(" wire FR1420041010050500013M02606 eom")),
        lit(" ref AB12CDEF kept"))
      d.select(col("doc_id"), T.redactIbans(planted).as("clean"))
    }),
    // ----- text curation: repetition signals. Docs are single-line, so
    // the line-dup signals run over a two-line doc built per-row (even
    // ids repeat their text; odd ids append a unique tail) while the
    // bigram signal runs over the raw text.
    QuerySpec("q_repetition",
      repetitionOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val doc = concat(col("text"), lit("\n"),
        when(col("doc_id") % 2 === 0, col("text")).otherwise(lit("tail")))
      d.select(col("doc_id"),
        round(T.duplicateLineFraction(doc), 6).as("dup_line_frac"),
        round(T.duplicateLineCharFraction(doc), 6).as("dup_char_frac"),
        round(T.topBigramCharFraction(col("text")), 6)
          .as("top_bigram_frac"))
    }),
    // ----- text curation: composite keep/drop filter with per-rule
    // reasons (Gopher-style heuristics)
    QuerySpec("q_quality_filter",
      qualityFilterOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      d.select(col("doc_id"),
        T.qualityKeep(col("text")).as("keep"),
        T.qualityReasons(col("text")).as("reasons"))
    }),
    // ----- corpus rebalancing: per-language deterministic sampling
    QuerySpec("q_stratified_sample",
      stratifiedSampleOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.stratifiedSampleByHash(d, "doc_id", "lang",
          Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.75), default = 1.0)
        .select("doc_id", "lang")
    }),
    // ----- quality selection: best k docs per source (rank filter →
    // WindowGroupLimit: per-task top-k heaps BEFORE the shuffle)
    QuerySpec("q_topk_per_group",
      // rank-filter top-k; DuckDB's QUALIFY is the same window predicate
      """SELECT doc_id, source, n_chars FROM documents
         QUALIFY row_number() OVER (PARTITION BY source
           ORDER BY n_chars DESC, doc_id ASC) <= 5""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.topKPerGroup(d.select("doc_id", "source", "n_chars"),
        "source", "n_chars", "doc_id", k = 5)
    }),
    // ----- benchmark decontamination: flag docs sharing a 5-gram with
    // the simulated eval set (every 50th doc)
    QuerySpec("q_decontaminate",
      decontaminateOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 50 === 0)
      Decontaminate.flagContaminated(d, "doc_id", "text",
        bench, "text", n = 5)
    }),
    // ----- bloom-prefiltered decontamination: bit-identical to
    // q_decontaminate (bloom has no false negatives; exact verify
    // kills the false positives) but corpus grams are pruned MAP-SIDE
    // before any exchange — the big-benchmark scale path
    QuerySpec("q_bloom_decontaminate",
      // the bloom prefilter provably cannot change the result (no false
      // negatives + exact verify), so the oracle IS the plain one
      decontaminateOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(col("doc_id") % 50 === 0)
      Decontaminate.flagContaminatedBloom(d, "doc_id", "text",
        bench, "text", n = 5, expectedGrams = 1L << 16)
    }),
    // ----- corpus-wide boilerplate scrub: drop segments occurring
    // more than maxRepeats times across the WHOLE corpus (word-level
    // here — the synthetic docs are single-paragraph)
    QuerySpec("q_corpus_scrub",
      corpusScrubOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      CorpusScrub.removeRepeatedSegments(d, "doc_id", "text",
        sep = " ", maxRepeats = 1000L)
    }),
    // ----- corpus vocabulary: exact top-50 terms
    QuerySpec("q_top_terms",
      """WITH t AS (SELECT UNNEST(regexp_split_to_array(trim(text),
           '\s+')) AS term FROM documents)
         SELECT term, COUNT(*) AS term_count FROM t
         GROUP BY term ORDER BY term_count DESC, term ASC LIMIT 50""",
      (s, dir) =>
      CorpusScrub.topTerms(t(s, dir, "documents"), "text", 50)),
    // ----- sketch-based heavy hitters: one mergeable frequent-items
    // state per partition instead of a term-keyed shuffle; EXACT while
    // distinct terms fit the tracked capacity (they do here), so the
    // oracle is the exact top-k
    QuerySpec("q_top_terms_approx",
      // the sketch is exact under capacity (see Sketches.topTermsApprox),
      // so the approx query's oracle IS the exact top-k
      """WITH t AS (SELECT UNNEST(regexp_split_to_array(trim(text),
           '\s+')) AS term FROM documents)
         SELECT term, COUNT(*) AS term_count FROM t
         GROUP BY term ORDER BY term_count DESC, term ASC LIMIT 50""",
      (s, dir) =>
      Sketches.topTermsApprox(t(s, dir, "documents"), "text", 50)),
    // ----- per-doc language mix over paragraph segments: planted
    // second paragraphs in fr/de/es; dominance ties (1 seg vs 1 seg)
    // break to the lexicographically smallest tag
    QuerySpec("q_lang_mix",
      langMixOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          lit("\n\nle chat est sur une table et les autres"))
          .when(col("doc_id") % 4 === 1,
            lit("\n\nder hund und die katze ist nicht ein zu"))
          .when(col("doc_id") % 4 === 2,
            lit("\n\nel perro y la casa de los del que"))
          .otherwise(lit("")))
      CorpusScrub.langMix(d.withColumn("text", planted), "doc_id",
        "text")
    }),
    // ----- templated-ness: every 6th doc gains a common boilerplate
    // tail, so its grams' corpus df jumps; originals stay near
    // df 1 — mean-df and shared-fraction in exact integer milli
    QuerySpec("q_template_score",
      // template replay: same plant, distinct 3-grams per doc, df over
      // docs, integer milli ratios
      {
      val grams = ngramsSql(tokensSql("text"), 3)
      s"""WITH pl AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 6 = 0
             THEN ' standard footer boilerplate block common to' ||
               ' many pages'
             ELSE '' END AS text
         FROM documents),
       dg AS (SELECT doc_id, UNNEST(list_distinct($grams)) AS gram
         FROM pl),
       dfT AS (SELECT gram, COUNT(*)::BIGINT AS df FROM dg
         GROUP BY 1)
       SELECT d.doc_id, COUNT(*)::BIGINT AS n_grams,
         CAST(SUM(f.df) * 1000 // COUNT(*) AS BIGINT)
           AS mean_df_milli,
         CAST(COUNT(CASE WHEN f.df >= 2 THEN 1 END) * 1000
           // COUNT(*) AS BIGINT) AS shared_frac_milli
       FROM dg d JOIN dfT f ON d.gram = f.gram
       GROUP BY d.doc_id"""
    },
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = concat(col("text"),
        when(col("doc_id") % 6 === 0,
          lit(" standard footer boilerplate block common to many" +
            " pages")).otherwise(lit("")))
      CorpusScrub.templateScore(
        d.withColumn("text", planted), "doc_id", "text", n = 3)
    }),
    // ----- per-doc OOV rate vs the corpus's own df>=50 vocabulary:
    // word-salad/off-domain screen, exact integer milli fraction
    QuerySpec("q_oov_rate",
      // OOV replay: vocabulary from distinct (doc, term) df counts,
      // in-vocab token count joined back, integer milli fraction
      """WITH tokarr AS (SELECT doc_id,
           regexp_split_to_array(trim(text), '\s+') AS ts
         FROM documents),
       tok AS (SELECT doc_id, UNNEST(ts) AS term FROM tokarr),
       vocab AS (SELECT term FROM (
           SELECT term, COUNT(DISTINCT doc_id) AS df
           FROM tok GROUP BY 1) z
         WHERE df >= 50),
       inv AS (SELECT t.doc_id, COUNT(*)::BIGINT AS n_inv
         FROM tok t JOIN vocab v ON v.term = t.term GROUP BY 1)
       SELECT a.doc_id, len(a.ts)::BIGINT AS n_tokens,
         len(a.ts)::BIGINT - COALESCE(i.n_inv, 0) AS n_oov,
         (len(a.ts)::BIGINT - COALESCE(i.n_inv, 0)) * 1000
           // len(a.ts) AS oov_milli
       FROM tokarr a LEFT JOIN inv i ON a.doc_id = i.doc_id""",
      (s, dir) => {
      val d = tp(s, dir, "documents")
      CorpusScrub.oovRate(d, "doc_id", "text", minDf = 50L)
    }),
    // ----- per-doc characteristic terms (exact-rational idf variant —
    // ln's last ulp is libm-specific, see topTfidfTerms)
    QuerySpec("q_tfidf_terms",
      // exact-rational tf-idf: long product, ONE double division
      """WITH tok AS (SELECT doc_id,
           UNNEST(regexp_split_to_array(trim(text), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf_count
           FROM tok GROUP BY 1, 2),
         dfq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS nn FROM documents)
         SELECT doc_id, term, tf_count,
           (tf_count * (nn + 1))::DOUBLE / (df_t + 1) AS score
         FROM tf JOIN dfq USING (term) CROSS JOIN n
         QUALIFY row_number() OVER (PARTITION BY doc_id
           ORDER BY score DESC, term ASC) <= 3""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      CorpusScrub.topTfidfTerms(d, "doc_id", "text", k = 3,
        logIdf = false)
    }),
    // ----- ranked retrieval: fixed-point BM25 (rational idf — see
    // Retrieval), queries = first 6 tokens of docs 0-2, top 10 docs
    // per query; the source doc itself must surface
    QuerySpec("q_bm25_topk",
      bm25Oracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val qs = d.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            graft.functions.TextFunctions.tokens(col("text")), 1, 6))
            .as("qtext"))
      Retrieval.bm25TopK(d, "doc_id", "text", qs, "query_id",
        "qtext", k = 10)
    }),
    // ----- the same retrieval through the PERSISTENT inverted index
    // (build bucketed-by-term postings, then serve): the oracle is
    // q_bm25_topk's VERBATIM — the hash match proves serve == scan
    QuerySpec("q_text_index_topk",
      // serve == scan: the index query must reproduce the direct
      // BM25 oracle bit-for-bit
      bm25Oracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      TextIndex.build(d, "doc_id", "text", "g_q_text_index",
        buckets = 16)
      val qs = d.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            graft.functions.TextFunctions.tokens(col("text")), 1, 6))
            .as("qtext"))
      TextIndex.query(s, "g_q_text_index", qs, "query_id", "qtext",
        k = 10)
    }),
    // ----- row-level snapshot content diff: old = all but doc_id%10
    // == 3, new = all but %10 == 7 with every %5 == 0 text amended —
    // so added/removed/changed/unchanged all appear; the operator
    // compares 8-byte fingerprints, the oracle compares raw text
    QuerySpec("q_snapshot_diff",
      // snapshot diff replay: same derived old/new sides, status from
      // raw-text comparison (the operator compares xxhash64
      // fingerprints — equal iff the text is, modulo 2^-64 collisions)
      s"""WITH $snapshotDiffCtes
       SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
              ELSE 'unchanged' END AS status
       FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Snapshot.contentDiff(
        d.filter(col("doc_id") % 10 =!= 3),
        d.filter(col("doc_id") % 10 =!= 7)
          .withColumn("text", when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))),
        "doc_id", Seq("text"))
    }),
    QuerySpec("q_snapshot_diff_summary",
      s"""WITH $snapshotDiffCtes,
       st AS (SELECT
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
       SELECT count(CASE WHEN status = 'added' THEN 1 END) AS n_added,
         count(CASE WHEN status = 'removed' THEN 1 END) AS n_removed,
         count(CASE WHEN status = 'changed' THEN 1 END) AS n_changed,
         count(CASE WHEN status = 'unchanged' THEN 1 END)
           AS n_unchanged
       FROM st""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Snapshot.contentDiffSummary(
        d.filter(col("doc_id") % 10 =!= 3),
        d.filter(col("doc_id") % 10 =!= 7)
          .withColumn("text", when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))),
        "doc_id", Seq("text"))
    }),
    // ----- sequence packing: chunks -> ~256-token training packs,
    // shard-parallel deterministic contiguous fill
    QuerySpec("q_pack_chunks",
      packChunksOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val chunks = Chunking.chunkByTokens(d, "doc_id", "text",
        maxTokens = 32)
      Chunking.packChunks(chunks, "doc_id", "chunk_id",
          "chunk_tokens", budgetTokens = 256, nShards = 8)
        .select(col("doc_id"), col("chunk_id").cast("long"),
          col("shard"), col("pack_id"))
    }),
    // ----- tokenizer prep: overlapped token-window chunking
    QuerySpec("q_chunk_tokens",
      chunkTokensOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      Chunking.chunkByTokens(d, "doc_id", "text",
          maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_id").cast("long"),
          col("chunk_text"), col("chunk_tokens").cast("long"))
    }),
    // ----- near-dup: MinHash + LSH banding over char shingles
    QuerySpec("q_minhash_pairs",
      minhashOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashDupPairs(d, "doc_id", "text")
    }),
    // ----- near-dup INCREMENT: persistent band index over the standing
    // corpus (doc_id % 5 != 0), new batch matched against it without
    // recomputing a single corpus signature
    QuerySpec("q_neardup_increment",
      // full recompute over corpus∪batch, restricted to batch-touching
      // pairs — exactly what the incremental index must reproduce
      s"""SELECT id_a, id_b, est_jaccard FROM ($minhashOracle)
         WHERE id_a % 5 = 0 OR id_b % 5 = 0""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      BandIndex.build(d.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", "graft_band_idx")
      BandIndex.neardupIncrement(s, "graft_band_idx",
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
    }),
    // ----- dedup cluster collapse: minhash pairs -> connected
    // components -> one representative per document (the key a
    // "keep one per cluster" delete actually uses)
    QuerySpec("q_dedup_components",
      dedupComponentsOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashDupPairs(d, "doc_id", "text")
        .select("id_a", "id_b")
      Dedup.duplicateClusters(d.select("doc_id"), "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    // ----- the delete itself: minhash pairs -> clusters -> keep the
    // smallest id per cluster, drop the rest
    QuerySpec("q_dedup_clean",
      s"""SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN ($dedupComponentsOracle) c
           ON c.doc_id = d.doc_id AND c.doc_id = c.cluster_id""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashDupPairs(d, "doc_id", "text")
        .select("id_a", "id_b")
      Dedup.dedupCorpus(d, "doc_id", pairs)
        .select("doc_id", "source", "n_chars")
    }),
    // ----- cross-source contamination matrix: every 17th doc's text
    // becomes one of 7 shared boilerplate variants, so sources
    // mirror each other through those fingerprints; natural text
    // never collides across sources at this SF
    QuerySpec("q_source_overlap",
      // overlap replay: same plant, distinct (fingerprint, source),
      // pairwise count by fingerprint self-join (== the sorted-set
      // pair explosion: both enumerate a<b source pairs per shared fp)
      """WITH pl AS (SELECT source,
           CASE WHEN doc_id % 17 = 0
             THEN 'Shared boilerplate block ' ||
               CAST(doc_id % 7 AS VARCHAR)
             ELSE text END AS text
         FROM documents),
       fp AS (SELECT DISTINCT
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
             AS f, source
         FROM pl)
       SELECT a.source AS group_a, b.source AS group_b,
         COUNT(*)::BIGINT AS n_shared
       FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
       GROUP BY 1, 2""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = when(col("doc_id") % 17 === 0,
          concat(lit("Shared boilerplate block "),
            (col("doc_id") % 7).cast("string")))
        .otherwise(col("text"))
      Dedup.fingerprintOverlap(
        d.withColumn("text", planted), "source", "text")
    }),
    // ----- edit-distance entity resolution: 200 md5-derived entity
    // names, four deterministic typo variants (deletion / insertion /
    // substitution / clean) — within-entity variants pair at ed ≤ 2,
    // cross-entity names don't; trigram blocking is recall-complete
    // here (len ≥ 9 > 3·2+2, no gram over the cap)
    QuerySpec("q_edit_pairs",
      // blocking is internal candidate generation (recall-complete at
      // this length/cap); the oracle is the brute-force DP predicate
      """WITH nm AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN substr(b, 1, 9)
                WHEN doc_id % 7 = 1 THEN b || 'x'
                WHEN doc_id % 7 = 2
                  THEN substr(b, 1, 4) || 'z' || substr(b, 6, 5)
                ELSE b END AS name
         FROM (SELECT doc_id,
             'e-' || substr(md5(CAST(doc_id % 200 AS VARCHAR)), 1, 8)
               AS b
           FROM documents) z)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
       FROM nm a JOIN nm b ON a.doc_id < b.doc_id
       WHERE levenshtein(a.name, b.name) <= 2""",
      (s, dir) =>
      Dedup.editDistancePairs(entityNames(t(s, dir, "documents")),
        "doc_id", "name", maxDist = 2)),
    // ----- the full entity-resolution compose: edit-distance pairs
    // → star-contraction components → every record labeled with its
    // entity cluster (the same machinery as document dedup, on a
    // field)
    QuerySpec("q_entity_clusters",
      // entity clusters: recursive reachability over the brute-force
      // edit-pair graph, label = min reachable doc_id, singletons self
      """WITH RECURSIVE nm AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN substr(b, 1, 9)
                WHEN doc_id % 7 = 1 THEN b || 'x'
                WHEN doc_id % 7 = 2
                  THEN substr(b, 1, 4) || 'z' || substr(b, 6, 5)
                ELSE b END AS name
         FROM (SELECT doc_id,
             'e-' || substr(md5(CAST(doc_id % 200 AS VARCHAR)), 1, 8)
               AS b
           FROM documents) z),
       pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM nm a JOIN nm b ON a.doc_id < b.doc_id
         WHERE levenshtein(a.name, b.name) <= 2),
       e AS (SELECT id_a AS src, id_b AS dst FROM pr
             UNION SELECT id_b, id_a FROM pr),
       reach(id, lab) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.id)
       SELECT id AS doc_id, MIN(lab) AS cluster_id
       FROM reach GROUP BY id""",
      (s, dir) => {
      val named = entityNames(t(s, dir, "documents"))
      val pairs = Dedup.editDistancePairs(named, "doc_id", "name",
        maxDist = 2).select("id_a", "id_b")
      Dedup.duplicateClusters(named.select("doc_id"), "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    // ----- quality-ranked canonical selection: same minhash
    // clusters, but keep the LONGEST member (n_chars, ties → smallest
    // doc_id) instead of the arbitrary smallest id
    QuerySpec("q_dedup_keep_best",
      // keep-best replay: per-component argmax on (n_chars DESC NULLS
      // LAST, doc_id ASC) over the same component labels
      s"""WITH comp AS ($dedupComponentsOracle),
         memb AS (SELECT c.doc_id, c.cluster_id, d.n_chars
           FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         keep AS (SELECT doc_id FROM (
             SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cluster_id
               ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
             FROM memb) z WHERE rn = 1)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN keep k ON k.doc_id = d.doc_id""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashDupPairs(d, "doc_id", "text")
        .select("id_a", "id_b")
      Dedup.dedupCorpusKeepBest(d, "doc_id", "n_chars", pairs)
        .select("doc_id", "source", "n_chars")
    }),
    // ----- leakage-safe split: near-dup cluster members always land
    // in the SAME split (a per-id split contaminates eval)
    QuerySpec("q_leakage_safe_split",
      leakageSafeSplitOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Dedup.minhashDupPairs(d, "doc_id", "text")
        .select("id_a", "id_b")
      Sampling.leakageSafeSplit(d, "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    }),
    // ----- cross-doc boilerplate removal: segments present in >= 50
    // distinct docs (the planted footer hits every 3rd / 4th doc)
    // vanish from ALL docs; text rebuilt in original order
    QuerySpec("q_boilerplate_scrub",
      // same planted separators + footers; DF count over distinct
      // (seg, doc) pairs; zipped unnests give (seg, 1-based pos)
      """WITH m AS (SELECT doc_id,
           replace(text, ' table ', '|')
           || CASE WHEN doc_id % 3 = 0
                THEN '|SUBSCRIBE NOW - weekly newsletter footer'
                ELSE '' END
           || CASE WHEN doc_id % 4 = 1
                THEN '|(c) example corp - all rights reserved'
                ELSE '' END AS t2
         FROM documents),
         segs AS (SELECT doc_id,
           unnest(string_split(t2, '|')) AS seg,
           unnest(generate_series(1, len(string_split(t2, '|'))))
             AS pos
         FROM m),
         boiler AS (SELECT seg FROM (
           SELECT seg, count(DISTINCT doc_id) AS df FROM segs
           GROUP BY 1) WHERE df >= 50),
         kept AS (SELECT * FROM segs
           WHERE seg NOT IN (SELECT seg FROM boiler)),
         rec AS (SELECT doc_id,
           string_agg(seg, '|' ORDER BY pos) AS scrubbed
         FROM kept GROUP BY 1)
         SELECT d.doc_id, coalesce(r.scrubbed, '') AS scrubbed
         FROM documents d LEFT JOIN rec r ON d.doc_id = r.doc_id""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = d.select(col("doc_id"), concat(
        regexp_replace(col("text"), " table ", "|"),
        when(col("doc_id") % 3 === 0,
          lit("|SUBSCRIBE NOW - weekly newsletter footer"))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 1,
          lit("|(c) example corp - all rights reserved"))
          .otherwise(lit(""))).as("t2"))
      SegmentDedup.removeBoilerplate(planted, "doc_id", "t2", "|",
        minDocs = 50L)
    }),
    // ----- corpus-wide keep-first segment dedup: only the globally
    // first occurrence (by doc_id, then position) of each segment
    // survives
    QuerySpec("q_segment_dedup",
      // keep-first = row_number() 1 over (segment, ordered by doc, pos)
      """WITH m AS (SELECT doc_id,
           replace(text, ' value ', '|') AS t2 FROM documents),
         segs AS (SELECT doc_id,
           unnest(string_split(t2, '|')) AS seg,
           unnest(generate_series(1, len(string_split(t2, '|'))))
             AS pos
         FROM m),
         kept AS (SELECT doc_id, pos, seg FROM (
           SELECT *, row_number() OVER (
             PARTITION BY seg ORDER BY doc_id, pos) AS rn FROM segs)
           WHERE rn = 1),
         rec AS (SELECT doc_id,
           string_agg(seg, '|' ORDER BY pos) AS deduped
         FROM kept GROUP BY 1)
         SELECT d.doc_id, coalesce(r.deduped, '') AS deduped
         FROM documents d LEFT JOIN rec r ON d.doc_id = r.doc_id""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = d.select(col("doc_id"),
        regexp_replace(col("text"), " value ", "|").as("t2"))
      SegmentDedup.dedupSegments(planted, "doc_id", "t2", "|")
    }),
    // ----- deterministic train/val/test split by id hash (stable
    // across engines, partitionings and corpus growth)
    QuerySpec("q_det_split",
      detSplitOracle,
      (s, dir) => {
      val d = t(s, dir, "documents")
      Sampling.deterministicSplit(d,
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    }),
    // ----- near-dup: 60-bit SimHash, pigeonhole blocking on
    // maxDist+1 = 4 chunks of 15 bits (recall-lossless for hamming
    // <= 3). Larger radii are supported but each extra chunk narrows
    // every chunk's width — at maxDist = 8 the 6-7-bit chunks leave
    // only ~100 buckets each and candidate generation inflates ~25x,
    // so the headline query keeps the tight radius.
    QuerySpec("q_simhash_pairs",
      simhashOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      Dedup.simhashDupPairs(d, "doc_id", "text", maxDist = 3)
    }),
    // ----- near-dup: word-3-gram Jaccard, df-capped inverted index
    QuerySpec("q_ngram_jaccard",
      ngramJaccardOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3,
        threshold = 0.8)
    }),
    // ----- asymmetric containment: |A∩B|/min(|A|,|B|) — the
    // short-doc-quoted-in-long-doc catch Jaccard misses
    QuerySpec("q_ngram_containment",
      ngramContainmentOracle,
      (s, dir) => {
      val d = tp(s, dir, "documents")
      Dedup.ngramContainmentPairs(d, "doc_id", "text", n = 3,
        threshold = 0.8)
    }),
    // ----- the delete half: drop each pair's CONTAINED side
    QuerySpec("q_scrub_contained",
      // survivors = documents minus the pairs' contained sides
      s"""SELECT doc_id FROM documents
         WHERE doc_id NOT IN (
           SELECT DISTINCT contained_id
           FROM ($ngramContainmentOracle) z)""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.scrubContained(d, "doc_id", "text", n = 3,
          threshold = 0.8)
        .select("doc_id")
    }),
    // ----- Unicode script detection: non-Latin rows planted per
    // doc_id class; the oracle counts the same \x{...} ranges and
    // replays the first-match dominance chain
    QuerySpec("q_script_id",
      // same plants; counts strip-and-measure the same \x{...} ranges;
      // dominance is the same first-match CASE chain over all 9 scripts
      """WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 1 THEN 'Привет мир, это проверка кириллицы'
                WHEN doc_id % 7 = 2 THEN '你好世界这是中文测试文本'
                WHEN doc_id % 7 = 3 THEN 'こんにちは世界 カタカナ テスト'
                WHEN doc_id % 7 = 4 THEN '안녕하세요 세계 한국어 텍스트'
                WHEN doc_id % 7 = 5 THEN 'नमस्ते दुनिया यह हिंदी परीक्षण है'
                WHEN doc_id % 7 = 6 THEN 'สวัสดีชาวโลก นี่คือข้อความภาษาไทย'
                ELSE text END AS s
         FROM documents),
       cnt AS (SELECT doc_id,
         length(regexp_replace(s, '[^A-Za-z]', '', 'g')) AS n_latin,
         length(regexp_replace(s, '[^\x{0400}-\x{04FF}]', '', 'g')) AS n_cyrillic,
         length(regexp_replace(s, '[^\x{0370}-\x{03FF}]', '', 'g')) AS n_greek,
         length(regexp_replace(s, '[^\x{0600}-\x{06FF}]', '', 'g')) AS n_arabic,
         length(regexp_replace(s, '[^\x{0590}-\x{05FF}]', '', 'g')) AS n_hebrew,
         length(regexp_replace(s, '[^\x{0900}-\x{097F}]', '', 'g')) AS n_devanagari,
         length(regexp_replace(s, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS n_han,
         length(regexp_replace(s, '[^\x{AC00}-\x{D7AF}]', '', 'g')) AS n_hangul,
         length(regexp_replace(s, '[^\x{3040}-\x{30FF}]', '', 'g')) AS n_kana,
         length(regexp_replace(s, '[^\x{0E00}-\x{0E7F}]', '', 'g')) AS n_thai
         FROM src)
       SELECT doc_id, CAST(n_latin AS BIGINT) AS n_latin,
         CAST(n_han AS BIGINT) AS n_han,
         CASE WHEN m = 0 THEN 'und'
              WHEN n_latin = m THEN 'latin'
              WHEN n_cyrillic = m THEN 'cyrillic'
              WHEN n_greek = m THEN 'greek'
              WHEN n_arabic = m THEN 'arabic'
              WHEN n_hebrew = m THEN 'hebrew'
              WHEN n_devanagari = m THEN 'devanagari'
              WHEN n_han = m THEN 'han'
              WHEN n_hangul = m THEN 'hangul'
              WHEN n_kana = m THEN 'kana'
              WHEN n_thai = m THEN 'thai'
              ELSE 'und' END AS script
       FROM (SELECT *, GREATEST(n_latin, n_cyrillic, n_greek, n_arabic,
         n_hebrew, n_devanagari, n_han, n_hangul, n_kana, n_thai) AS m
         FROM cnt) x""",
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val sample = when(col("doc_id") % 7 === 1,
          lit("Привет мир, это проверка кириллицы"))
        .when(col("doc_id") % 7 === 2, lit("你好世界这是中文测试文本"))
        .when(col("doc_id") % 7 === 3,
          lit("こんにちは世界 カタカナ テスト"))
        .when(col("doc_id") % 7 === 4,
          lit("안녕하세요 세계 한국어 텍스트"))
        .when(col("doc_id") % 7 === 5,
          lit("नमस्ते दुनिया यह हिंदी परीक्षण है"))
        .when(col("doc_id") % 7 === 6,
          lit("สวัสดีชาวโลก นี่คือข้อความภาษาไทย"))
        .otherwise(col("text"))
      d.select(col("doc_id"),
        T.scriptCount(sample, "latin").cast("long").as("n_latin"),
        T.scriptCount(sample, "han").cast("long").as("n_han"),
        T.dominantScript(sample).as("script"))
    }),
    // ----- encoding damage: plant U+FFFD / UTF-8-as-Latin-1
    // digraphs on some docs, clean accents on others (must NOT
    // count); oracle replays the strip-and-measure fraction
    QuerySpec("q_mojibake",
      // plants injected from the SAME MojiPlants constants; RE2 reads
      // the \x{...} pattern identically to Java regex
      {
      val p = graft.functions.TextFunctions.MojibakePattern
      s"""SELECT doc_id,
         round((length(t2) - length(regexp_replace(t2, '$p', '', 'g')))
             ::DOUBLE / greatest(length(t2), 1), 9) AS moji_frac
         FROM (SELECT doc_id, text ||
             CASE WHEN doc_id % 6 = 1 THEN '${MojiPlants(0)}'
                  WHEN doc_id % 6 = 2 THEN '${MojiPlants(1)}'
                  WHEN doc_id % 6 = 3 THEN '${MojiPlants(2)}'
                  WHEN doc_id % 6 = 4 THEN '${MojiPlants(3)}'
                  WHEN doc_id % 6 = 5 THEN '${MojiPlants(4)}'
                  ELSE '' END AS t2
           FROM documents) z"""
    },
      (s, dir) => {
      val d = t(s, dir, "documents")
      val planted = when(col("doc_id") % 6 === 1,
          concat(col("text"), lit(MojiPlants(0))))
        .when(col("doc_id") % 6 === 2,
          concat(col("text"), lit(MojiPlants(1))))
        .when(col("doc_id") % 6 === 3,
          concat(col("text"), lit(MojiPlants(2))))
        .when(col("doc_id") % 6 === 4,
          concat(col("text"), lit(MojiPlants(3))))
        .when(col("doc_id") % 6 === 5,
          concat(col("text"), lit(MojiPlants(4))))
        .otherwise(col("text"))
      d.select(col("doc_id"),
        round(T.mojibakeCharFraction(planted), 9).as("moji_frac"))
    }),
    // ----- encoding REPAIR (the fix to q_mojibake's detect): damage
    // is DERIVED from the clean probe by the same byte mapping the
    // repair table inverts — the oracle asserts the semantic result
    // (fixed == clean) rather than replaying the replace chain, so a
    // wrong repair pair cannot cancel out on both sides
    QuerySpec("q_fix_encoding",
      // fixed == text + the CLEAN probe (semantic assertion); both
      // fractions replay the shared strip-and-measure regex on the
      // damaged / repaired strings
      {
      val p = graft.functions.TextFunctions.MojibakePattern
      def frac(x: String) =
        s"""round((length($x) - length(regexp_replace($x, '$p', '',
           'g')))::DOUBLE / greatest(length($x), 1), 9)"""
      s"""SELECT doc_id, t3 AS fixed,
         ${frac("t2")} AS frac_before,
         ${frac("t3")} AS frac_after
         FROM (SELECT doc_id, text || '$FixProbeDamaged' AS t2,
             text || '$FixProbeFixed' AS t3
           FROM documents) z"""
    },
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val damaged = concat(col("text"), lit(FixProbeDamaged))
      val fixed = T.fixEncoding(damaged)
      d.select(col("doc_id"), fixed.as("fixed"),
        round(T.mojibakeCharFraction(damaged), 9).as("frac_before"),
        round(T.mojibakeCharFraction(fixed), 9).as("frac_after"))
    }),
    // ----- domain link-graph PageRank: a 37-node graph synthesized
    // from doc_id arithmetic — sources span d0..d30 only, so d31..d36
    // exercise the dangling/no-out-edge path; 5 exact-integer
    // iterations, every one unrolled as a CTE on the oracle side
    QuerySpec("q_domain_pagerank",
      // the exact-integer PageRank recurrence unrolled: one CTE per
      // iteration, '//' (floor) == Spark's DIV on the all-positive ranks
      {
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT n.node,
             150000 + (85 * COALESCE(c.s, 0)) // 100 AS r
           FROM n LEFT JOIN (
             SELECT e.dst AS node, SUM(p.r // od.od) AS s
             FROM e JOIN od ON e.src = od.src
                    JOIN r${k - 1} p ON p.node = e.src
             GROUP BY e.dst) c ON n.node = c.node)"""
      }.mkString(",\n         ")
      s"""WITH e AS (
           SELECT src, dst FROM (
             SELECT 'd' || CAST(doc_id % 31 AS VARCHAR) AS src,
                    'd' || CAST((doc_id * 13 + 5) % 37 AS VARCHAR)
                      AS dst FROM documents
             UNION
             SELECT 'd' || CAST(doc_id % 31 AS VARCHAR),
                    'd' || CAST((doc_id * 29 + 11) % 37 AS VARCHAR)
             FROM documents) u
           WHERE src <> dst),
         n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
         $iters
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r5"""
    },
      (s, dir) => {
      val d = t(s, dir, "documents")
      def node(c: Column) = concat(lit("d"), c.cast("string"))
      val e1 = d.select(node(col("doc_id") % 31).as("src"),
        node((col("doc_id") * 13 + 5) % 37).as("dst"))
      val e2 = d.select(node(col("doc_id") % 31).as("src"),
        node((col("doc_id") * 29 + 11) % 37).as("dst"))
      val edges = e1.union(e2).filter(col("src") =!= col("dst"))
      LinkGraph.pageRank(edges, "src", "dst", iterations = 5)
    }),
    // ----- TrustRank: the same 37-node graph with all teleport mass
    // on seeds d0/d5 — unreachable nodes decay to exactly 0
    QuerySpec("q_trust_rank",
      // TrustRank replay: the pagerank CTE ladder with the seed-gated
      // base term — r0 and every iteration's teleport mass CASE on the
      // seed set
      {
      val seedIn = "IN ('d0', 'd5')"
      val iters = (1 to 5).map { k =>
        s"""r$k AS (SELECT n.node,
             CASE WHEN n.node $seedIn THEN 150000 ELSE 0 END
               + (85 * COALESCE(c.s, 0)) // 100 AS r
           FROM n LEFT JOIN (
             SELECT e.dst AS node, SUM(p.r // od.od) AS s
             FROM e JOIN od ON e.src = od.src
                    JOIN r${k - 1} p ON p.node = e.src
             GROUP BY e.dst) c ON n.node = c.node)"""
      }.mkString(",\n         ")
      s"""WITH e AS (
           SELECT src, dst FROM (
             SELECT 'd' || CAST(doc_id % 31 AS VARCHAR) AS src,
                    'd' || CAST((doc_id * 13 + 5) % 37 AS VARCHAR)
                      AS dst FROM documents
             UNION
             SELECT 'd' || CAST(doc_id % 31 AS VARCHAR),
                    'd' || CAST((doc_id * 29 + 11) % 37 AS VARCHAR)
             FROM documents) u
           WHERE src <> dst),
         n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         od AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
         r0 AS (SELECT node,
           CAST(CASE WHEN node $seedIn THEN 1000000 ELSE 0 END
             AS BIGINT) AS r FROM n),
         $iters
         SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r5"""
    },
      (s, dir) => {
      val d = t(s, dir, "documents")
      def node(c: Column) = concat(lit("d"), c.cast("string"))
      val e1 = d.select(node(col("doc_id") % 31).as("src"),
        node((col("doc_id") * 13 + 5) % 37).as("dst"))
      val e2 = d.select(node(col("doc_id") % 31).as("src"),
        node((col("doc_id") * 29 + 11) % 37).as("dst"))
      val edges = e1.union(e2).filter(col("src") =!= col("dst"))
      LinkGraph.trustRank(edges, "src", "dst", Seq("d0", "d5"),
        iterations = 5)
    }),
    // ----- weak components over a deliberately DISCONNECTED link
    // graph: 10 islands of ≤4 nodes each from doc_id arithmetic —
    // no cross-island edges by construction, so the component map
    // must recover exactly the islands' internal connectivity
    QuerySpec("q_domain_components",
      // weak-component replay: same doc_id-arithmetic edges, recursive
      // reachability over the symmetric closure, label = MIN reachable
      // node (binary string ordering on both engines)
      """WITH RECURSIVE e0 AS (
           SELECT 'n' || CAST((doc_id % 10) * 4 +
               doc_id % 4 AS VARCHAR) AS src,
             'n' || CAST((doc_id % 10) * 4 +
               (doc_id // 4) % 4 AS VARCHAR) AS dst
           FROM documents),
         e1 AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         e AS (SELECT src, dst FROM e1
               UNION SELECT dst, src FROM e1),
         n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         reach(node, lab) AS (
           SELECT node, node FROM n
           UNION
           SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node)
         SELECT node, MIN(lab) AS component
         FROM reach GROUP BY node""",
      (s, dir) => {
      val d = t(s, dir, "documents")
      def node(c: Column) = concat(lit("n"), c.cast("string"))
      val g = col("doc_id") % 10
      val edges = d.select(
          node(g * 4 + col("doc_id") % 4).as("src"),
          node(g * 4 + expr("doc_id DIV 4") % 4).as("dst"))
        .filter(col("src") =!= col("dst"))
      LinkGraph.weakComponents(edges, "src", "dst")
    }),
    // ----- collocation mining: integer counts, one fixed-shape
    // double ratio (no logs), deterministic top-k by total order
    QuerySpec("q_collocations",
      // same \s+ token discipline as the hashing oracles; adjacency via
      // 1-based list indexing; the lift ratio is the identical fixed
      // shape of exact-int→double conversions and IEEE ops
      """WITH toksarr AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
             AS a
           FROM documents),
         uni AS (
           SELECT tok, COUNT(*) AS c
           FROM (SELECT unnest(a) AS tok FROM toksarr) z GROUP BY tok),
         bg AS (
           SELECT a[i] AS w1, a[i + 1] AS w2, COUNT(*) AS pair_count
           FROM toksarr,
             LATERAL unnest(generate_series(1, len(a) - 1)) AS t(i)
           GROUP BY 1, 2),
         sc AS (
           SELECT bg.w1, bg.w2, bg.pair_count, u1.c AS c1, u2.c AS c2,
             CAST(bg.pair_count AS DOUBLE) * 1e12 /
               (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))
               AS lift_score
           FROM bg JOIN uni u1 ON bg.w1 = u1.tok
                   JOIN uni u2 ON bg.w2 = u2.tok
           WHERE bg.pair_count >= 5)
         SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
           CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           lift_score
         FROM sc ORDER BY lift_score DESC, w1, w2 LIMIT 100""",
      (s, dir) =>
      Collocations.collocations(t(s, dir, "documents"), "text",
        minCount = 5L, topK = 100)),
    // ----- crawl HTML -> text/title/links: pages synthesized by
    // concatenation around each document (script with a bare '<',
    // style, comments, entities, one double- and one single-quoted
    // href — the link pattern must harvest BOTH quote styles)
    QuerySpec("q_html_text",
      // same page construction via ||; the extraction chain is replayed
      // operator-for-operator (RE2 inline flags, literal replaces with
      // &amp; last, then the normalize whitespace canonicalization)
      """WITH h AS (SELECT doc_id,
           '<html><head><title> Doc ' || doc_id ||
           ' </title><script>var x=1; if (x<2) {}</script>' ||
           '<style>p { color: red; }</style></head><body>' ||
           '<!-- hidden --><p class="main">' || text ||
           '</p><a href="https://ex.com/' || doc_id ||
           '?u=1">one</a> <a href=''https://ex.com/b''>two</a> ' ||
           '&amp; &lt;tail&gt; &#39;q&#39; &nbsp;</body></html>'
             AS html
         FROM documents)
         SELECT doc_id,
           trim(regexp_replace(regexp_replace(
             regexp_extract(html, '(?is)<title[^>]*>([^<]*)</title>', 1),
             '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS title,
           trim(regexp_replace(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(html,
                   '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '<[^>]+>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
             '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')) AS text,
           len(regexp_extract_all(html,
             '(?i)href\s*=\s*("[^"]*"|''[^'']*'')', 1)) AS n_links,
           list_transform(regexp_extract_all(html,
             '(?i)href\s*=\s*("[^"]*"|''[^'']*'')', 1),
             s -> s[2:-2])[1] AS first_link
         FROM h""",
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val html = concat(
        lit("<html><head><title> Doc "), col("doc_id"),
        lit(" </title><script>var x=1; if (x<2) {}</script>" +
          "<style>p { color: red; }</style></head><body>" +
          "<!-- hidden --><p class=\"main\">"), col("text"),
        lit("</p><a href=\"https://ex.com/"), col("doc_id"),
        lit("?u=1\">one</a> <a href='https://ex.com/b'>two</a> " +
          "&amp; &lt;tail&gt; &#39;q&#39; &nbsp;</body></html>"))
      d.select(col("doc_id"),
        T.htmlTitle(html).as("title"),
        T.htmlToText(html).as("text"),
        size(T.htmlLinks(html)).cast("long").as("n_links"),
        element_at(T.htmlLinks(html), 1).as("first_link"))
    }),
    // ----- REAL audio-header decode: WAV bytes synthesized by hex
    // concatenation (RIFF/WAVE + fmt/data chunks, little-endian
    // fields planted from doc_id), parsed back via the batch-decode
    // plumbing; the oracle recomputes the planted values
    // ----- real greedy BPE encode with a pinned merge table: the
    // whole pass is one codegen'd projection of chained literal
    // replaces over the SEP-bracketed stream (Bpe.scala) — the
    // oracle rebuilds the identical stream with DuckDB's replace
    QuerySpec("q_bpe_encode",
      // an INDEPENDENT greedy-BPE derivation: token rows + one window
      // stage per merge rank. Greedy left-to-right pairing = mark
      // candidate positions (tok=a, next=b), group CONSECUTIVE
      // candidates into runs (only possible when a=b), take the odd
      // positions within each run, merge takers and drop their right
      // partners, renumber. 20 unrolled stages — nothing shared with
      // the Spark kernel's scan loop.
      {
      val (ctes, last) = bpeSqlStages
      s"""WITH $ctes
         SELECT d.doc_id, COALESCE(a.stream, '') AS token_stream,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n_tokens
         FROM documents d LEFT JOIN (
           SELECT doc_id,
             string_agg(tok, chr(1) ORDER BY pos) AS stream,
             COUNT(*) AS n
           FROM $last GROUP BY 1) a ON d.doc_id = a.doc_id"""
    },
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"))
      Bpe.encode(d, "text", BpeFixedMerges)
        .select(col("doc_id"), col("token_stream"), col("n_tokens"))
    }),
    // ----- token-budgeted chunking: documents split into windows of
    // at most 64 BPE tokens — the unit a training pipeline actually
    // packs by; chunk text is the exact token concatenation
    QuerySpec("q_bpe_chunk",
      // the same independent greedy derivation, then windows of 64
      // tokens: chunk id = (pos-1) // 64, chunk text = in-order token
      // concatenation
      {
      val (ctes, last) = bpeSqlStages
      s"""WITH $ctes
         SELECT doc_id,
           CAST((pos - 1) // 64 AS INT) AS chunk_id,
           string_agg(tok, '' ORDER BY pos) AS chunk_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
         FROM $last
         GROUP BY doc_id, (pos - 1) // 64"""
    },
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"))
      Bpe.chunk(d, "doc_id", "text", BpeFixedMerges, maxTokens = 64)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
          col("n_tokens"))
    }),
    // ----- sliding-window chunking: 64-token windows every 48
    // tokens — consecutive chunks share 16 tokens of context
    QuerySpec("q_bpe_chunk_overlap",
      // overlap replay: token q=pos-1 belongs to window w iff
      // w·48 ≤ q < w·48+64 → w ∈ [ceil((q−63)/48), q//48]; the ceil is
      // the floor-division identity (q−63+47)//48, clamped at 0
      {
      val (ctes, last) = bpeSqlStages
      s"""WITH $ctes,
         tw AS (SELECT doc_id, pos, tok, t.w AS w
           FROM $last,
           LATERAL unnest(generate_series(
             GREATEST(0, (pos - 1 - 16) // 48),
             (pos - 1) // 48)) AS t(w))
         SELECT doc_id, CAST(w AS INT) AS chunk_id,
           string_agg(tok, '' ORDER BY pos) AS chunk_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(w * 48 AS BIGINT) AS start_token
         FROM tw GROUP BY doc_id, w"""
    },
      (s, dir) => {
      val d = tp(s, dir, "documents").select(col("doc_id"), col("text"))
      Bpe.chunkOverlap(d, "doc_id", "text", BpeFixedMerges,
          maxTokens = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
          col("n_tokens"), col("start_token"))
    }),
    // ----- per-source token budget: the mixture-design accounting
    // report — BPE token mass, document count and character mass per
    // source, one map-only encode + one small aggregation
    QuerySpec("q_token_budget",
      // the greedy derivation again, aggregated to the per-source
      // budget report
      {
      val (ctes, last) = bpeSqlStages
      s"""WITH $ctes,
         perdoc AS (SELECT doc_id, COUNT(*) AS n
           FROM $last GROUP BY 1)
         SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(p.n, 0)) AS BIGINT) AS total_tokens,
           CAST(SUM(length(replace(COALESCE(d.text, ''), chr(1),
             ''))) AS BIGINT) AS total_chars
         FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
         GROUP BY d.source"""
    },
      (s, dir) => {
      val d = tp(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      Bpe.encode(d, "text", BpeFixedMerges)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(length(regexp_replace(col("text"), Bpe.Sep, ""))
            .cast("long")).as("total_chars"))
    }),
    // ----- corpus-fitted char-bigram LM quality score: the fit is
    // one alphabet-bounded aggregation, the scoring pass is map-only
    // with the counts broadcast — integer micro-probabilities keep
    // it bit-replayable (no cross-libm ln)
    QuerySpec("q_char_lm_score",
      // the same add-one-smoothed integer micro-probabilities, built
      // from scratch in SQL: bigram counts, per-prefix totals, V =
      // distinct next-chars + 1, truncating integer division
      """WITH bg AS (
           SELECT doc_id, substring(text, i, 1) AS p,
             substring(text, i + 1, 1) AS c
           FROM documents,
             LATERAL unnest(generate_series(1, length(text) - 1))
               AS t(i)
           WHERE length(text) >= 2),
         cnt AS (SELECT p, c, COUNT(*) AS n FROM bg GROUP BY 1, 2),
         tot AS (SELECT p, SUM(n) AS tn FROM cnt GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT c) + 1 AS vv FROM bg),
         mp AS (SELECT b.doc_id,
             ((cnt.n + 1) * 1000000000) // (tot.tn + v.vv) AS m
           FROM bg b
           JOIN cnt ON b.p = cnt.p AND b.c = cnt.c
           JOIN tot ON b.p = tot.p
           CROSS JOIN v),
         agg AS (SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_positions,
             CAST(SUM(m) AS BIGINT) AS sum_micro_p
           FROM mp GROUP BY 1)
         SELECT d.doc_id, a.n_positions, a.sum_micro_p,
           ROUND(CAST(a.sum_micro_p AS DOUBLE) / a.n_positions / 1e9,
             9) AS avg_p
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val model = CharLm.fit(d, "text")
      CharLm.score(d.select(col("doc_id"), col("text")), "doc_id",
          "text", model)
        .withColumn("avg_p",
          round(col("sum_micro_p") / col("n_positions") / 1e9, 9))
        .select(col("doc_id"), col("n_positions"),
          col("sum_micro_p"), col("avg_p"))
    }),
    // ----- lineage-tracked curation ops composed as ONE Pipeline
    // (RedactPii -> AnnotateQuality -> AssignSplit): the ops fold into
    // a single Catalyst plan, and the oracle is the three ops'
    // existing replays joined on doc_id
    QuerySpec("q_curation_pipeline",
      // the Pipeline composition = the three ops' replays joined by id
      s"""SELECT r.doc_id, r.clean, q.keep AS text_keep,
           q.reasons AS text_reasons, s.split
         FROM ($piiRedactOracle) r
         JOIN ($qualityFilterOracle) q ON r.doc_id = q.doc_id
         JOIN ($detSplitOracle) s ON r.doc_id = s.doc_id""",
      (s, dir) => {
      val d = tp(s, dir, "documents")
      val withPii = d.withColumn("pii_text", concat(col("text"),
        lit(" reach user"), col("doc_id"),
        lit("@mail.example.org or host "),
        (col("doc_id") % 200) + 10,
        lit(".20.30.40, tel +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      val pipe = Pipeline(
        RedactPii(Seq("pii_text"), Seq("clean")),
        AnnotateQuality(Seq("text")),
        AssignSplit(Seq("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      pipe(withPii).select(col("doc_id"), col("clean"),
        col("text_keep"), col("text_reasons"), col("split"))
    }),
    // ----- one-row corpus health report: the summary a curation run
    // opens with — doc/null/token counts, language count, near-exact
    // duplicate mass, quality-fail rate — all exact integers in ONE
    // aggregation pass, so two runs diff meaningfully
    QuerySpec("q_corpus_report",
      // report replay: every field recomputed from the same documents
      // table with the same exact-integer arithmetic
      {
      s"""WITH q AS (SELECT doc_id, keep
           FROM ($qualityFilterOracle) z),
         agg AS (SELECT
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN d.text IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_null_text,
           COALESCE(SUM(CASE WHEN d.text IS NOT NULL
             THEN len(${tokensSql("d.text")}) END), 0)::BIGINT
             AS total_tokens,
           COUNT(DISTINCT d.lang)::BIGINT AS n_langs,
           COUNT(DISTINCT md5(regexp_replace(lower(d.text),
             '[^a-z0-9]', '', 'g')))::BIGINT AS fp,
           SUM(CASE WHEN q.keep THEN 1 ELSE 0 END)::BIGINT AS nkeep
           FROM documents d JOIN q ON d.doc_id = q.doc_id)
         SELECT n_docs, n_null_text, total_tokens, n_langs,
           n_docs - n_null_text - fp AS dup_docs,
           (n_docs - n_null_text - fp) * 1000
             // GREATEST(n_docs - n_null_text, 1) AS dup_frac_milli,
           (n_docs - nkeep) * 1000 // GREATEST(n_docs, 1)
             AS quality_fail_milli
         FROM agg"""
    },
      (s, dir) => {
      CorpusScrub.corpusReport(t(s, dir, "documents"), "doc_id",
        "text", "lang")
    })
  )

  // ------------------------------------------------------------------
  // Generated oracles for the LLM-pipeline queries. The library's
  // hashing was built on md5 precisely so DuckDB can replicate it; the
  // permutation/hyperplane constants are generated HERE from the same
  // deterministic seeds the Spark operators use and embedded as SQL
  // literals.
  // ------------------------------------------------------------------

  /** The INDEPENDENT greedy-BPE derivation shared by the q_bpe_*
    * oracles: per-character token rows, then one window stage per
    * merge rank (candidate marking, consecutive-run grouping,
    * odd-parity take, partner drop, renumber). Returns (CTE text,
    * final-stage name); the final stage holds (doc_id, pos, tok).
    */
  private def bpeSqlStages: (String, String) = {
    def tk(t: String) = "'" + t.replace("'", "''") + "'"
    val p0 =
      """p0 AS (SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
         substring(txt, CAST(t.i AS INT), 1) AS tok
         FROM (SELECT doc_id, replace(COALESCE(text, ''), chr(1),
           '') AS txt FROM documents) d,
         LATERAL unnest(generate_series(1, length(txt))) AS t(i))"""
    val stages = BpeFixedMerges.zipWithIndex.map {
      case ((a, b), n) =>
        s"""c$n AS (SELECT doc_id, pos, tok,
           CASE WHEN tok = ${tk(a)} AND lead(tok) OVER
             (PARTITION BY doc_id ORDER BY pos) = ${tk(b)}
           THEN 1 ELSE 0 END AS cand
           FROM p$n),
         g$n AS (SELECT doc_id, pos, tok, cand,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id, cand
             ORDER BY pos) AS grp
           FROM c$n),
         k$n AS (SELECT doc_id, pos, tok, cand,
           CASE WHEN cand = 1 AND ROW_NUMBER() OVER
             (PARTITION BY doc_id, cand, grp ORDER BY pos) % 2 = 1
           THEN 1 ELSE 0 END AS tkn
           FROM g$n),
         m$n AS (SELECT doc_id, pos,
           CASE WHEN tkn = 1 THEN ${tk(a + b)} ELSE tok END AS tok,
           COALESCE(lag(tkn) OVER (PARTITION BY doc_id
             ORDER BY pos), 0) AS dropped
           FROM k$n),
         p${n + 1} AS (SELECT doc_id, ROW_NUMBER() OVER
             (PARTITION BY doc_id ORDER BY pos) AS pos, tok
           FROM m$n WHERE dropped = 0)"""
    }
    (p0 + ",\n" + stages.mkString(",\n"),
      s"p${BpeFixedMerges.length}")
  }

  /** DuckDB mirror of HashFunctions.stableHash60: first 15 md5 hex chars
    * base-16-decoded, as an expression over lambda variable `v`.
    *
    * TYPING RULE: `list_sum` returns HUGEINT, and the compare's pandas
    * `fetchdf()` converts HUGEINT to float64 — which shreds the low
    * bits of any value ≥ 2^53. Comparisons, joins and GROUP BYs over
    * the raw value are safe (they stay inside DuckDB), but any oracle
    * that EMITS the hash in its SELECT list MUST wrap it in
    * `CAST(... AS BIGINT)` (see q_jpeg_phash / q_progressive_phash —
    * the r8 q_jpeg_phash hash_match failure was exactly this).
    */
  private[queries] def sqlHash60(v: String): String =
    s"list_sum(list_transform(generate_series(1, 15), q -> " +
    s"(strpos('0123456789abcdef', substring(md5($v), q, 1)) - 1)::BIGINT" +
    s" << (4 * (15 - q))))"

  /** Char 5-shingle hashes of `text` (mirrors TextFunctions.charShingles
    * + stableHash60).
    */
  private def sqlShingleHashes: String =
    "list_transform(list_transform(" +
    "generate_series(1, greatest(length(text) - 4, 1)), " +
    "i -> substring(text, i, 5)), s -> " + sqlHash60("s") + ")"

  /** Whitespace-token hashes of `text`. */
  private def sqlTokenHashes: String =
    "list_transform(regexp_split_to_array(trim(text), '\\s+'), s -> " +
      sqlHash60("s") + ")"

  /** Mirrors TextFunctions.langId: per-language stopword hit counts,
    * argmax with first-wins tiebreak in LangMarkers order. Generated
    * from the SAME marker table the Spark expression uses.
    */
  /** Composite replay: marker scores over the planted sample, script
    * counts over the same, und-<Subtag> fallback generated from the
    * SAME ScriptSubtags table the Column API uses.
    */
  private def langFullOracle: String = {
    val scores = T.LangMarkers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      lang -> s"len(list_filter(tk, t -> list_contains($list, t)))"
    }
    val scoreCols =
      scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
    val best = scores.map("s_" + _._1).mkString("greatest(", ", ", ")")
    val baseCases = scores
      .map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }
      .mkString(" ")
    val cntCols = T.ScriptRanges.map { case (name, range) =>
      s"length(regexp_replace(s, '[^$range]', '', 'g')) AS n_$name"
    }.mkString(", ")
    val m = T.ScriptRanges.map(r => s"n_${r._1}")
      .mkString("GREATEST(", ", ", ")")
    val scriptCases = T.ScriptRanges
      .map { case (name, _) => s"WHEN n_$name = m THEN '$name'" }
      .mkString(" ")
    val tagCases = T.ScriptSubtags.filter(_._1 != "latin")
      .map { case (name, tag) => s"WHEN script = '$name' " +
        s"THEN 'und-$tag'" }
      .mkString(" ")
    s"""WITH src AS (SELECT doc_id,
         CASE WHEN doc_id % 7 = 1 THEN 'Привет мир, это проверка кириллицы'
              WHEN doc_id % 7 = 2 THEN '你好世界这是中文测试文本'
              WHEN doc_id % 7 = 3 THEN 'こんにちは世界 カタカナ テスト'
              WHEN doc_id % 7 = 4 THEN '안녕하세요 세계 한국어 텍스트'
              WHEN doc_id % 7 = 5 THEN 'नमस्ते दुनिया यह हिंदी परीक्षण है'
              WHEN doc_id % 7 = 6 THEN 'สวัสดีชาวโลก นี่คือข้อความภาษาไทย'
              ELSE text END AS s
       FROM documents),
       tkn AS (SELECT doc_id, s,
         regexp_split_to_array(trim(lower(s)), '\\s+') AS tk FROM src),
       sc AS (SELECT doc_id, s, $scoreCols FROM tkn),
       b AS (SELECT *, $best AS best FROM sc),
       base AS (SELECT doc_id, s,
         CASE WHEN best <= 0 THEN 'und' $baseCases ELSE 'und' END
           AS lang FROM b),
       cnt AS (SELECT doc_id, lang, $cntCols FROM base),
       scr AS (SELECT doc_id, lang,
         CASE WHEN m = 0 THEN 'und' $scriptCases ELSE 'und' END
           AS script
         FROM (SELECT *, $m AS m FROM cnt) x)
       SELECT doc_id,
         CASE WHEN lang <> 'und' THEN lang
              $tagCases
              ELSE 'und' END AS lang_full
       FROM scr"""
  }

  private def langIdOracle: String = {
    val scores = T.LangMarkers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      lang -> s"len(list_filter(tk, t -> list_contains($list, t)))"
    }
    val scoreCols =
      scores.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n         ")
    val best = scores.map("s_" + _._1).mkString("greatest(", ", ", ")")
    val cases = scores
      .map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }
      .mkString("\n           ")
    s"""WITH tk AS (SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
         FROM documents),
       sc AS (SELECT doc_id, $scoreCols FROM tk),
       b AS (SELECT *, $best AS best FROM sc)
       SELECT doc_id, CASE WHEN best <= 0 THEN 'und'
           $cases
           ELSE 'und' END AS lang_id
       FROM b"""
  }

  /** Mirrors CorpusScrub.langMix over the planted second paragraphs:
    * the SAME marker-score CASE as langIdOracle, applied per
    * `\n\n`-segment, then (doc, lang) counts, dominance by
    * (count DESC, lang ASC).
    */
  private def langMixOracle: String = {
    val scores = T.LangMarkers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      lang -> s"len(list_filter(tk, t -> list_contains($list, t)))"
    }
    val scoreCols =
      scores.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n         ")
    val best = scores.map("s_" + _._1).mkString("greatest(", ", ", ")")
    val cases = scores
      .map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }
      .mkString("\n           ")
    s"""WITH base AS (SELECT doc_id, text ||
         CASE WHEN doc_id % 4 = 0
             THEN chr(10) || chr(10) ||
               'le chat est sur une table et les autres'
           WHEN doc_id % 4 = 1
             THEN chr(10) || chr(10) ||
               'der hund und die katze ist nicht ein zu'
           WHEN doc_id % 4 = 2
             THEN chr(10) || chr(10) ||
               'el perro y la casa de los del que'
           ELSE '' END AS text
         FROM documents),
       seg AS (SELECT doc_id, t.s AS seg FROM base,
         LATERAL unnest(string_split(text, chr(10) || chr(10)))
           AS t(s)
         WHERE trim(t.s) <> ''),
       tkt AS (SELECT doc_id,
         regexp_split_to_array(trim(lower(seg)), '\\s+') AS tk
         FROM seg),
       sc AS (SELECT doc_id, $scoreCols FROM tkt),
       b AS (SELECT *, $best AS best FROM sc),
       lid AS (SELECT doc_id, CASE WHEN best <= 0 THEN 'und'
           $cases
           ELSE 'und' END AS lang FROM b),
       pl AS (SELECT doc_id, lang, COUNT(*)::BIGINT AS c
         FROM lid GROUP BY 1, 2),
       agg AS (SELECT doc_id, SUM(c)::BIGINT AS n_segments,
         COUNT(*)::BIGINT AS n_langs FROM pl GROUP BY 1),
       dom AS (SELECT doc_id, lang AS dominant_lang, c FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY c DESC, lang) AS rn FROM pl) z
         WHERE rn = 1)
       SELECT a.doc_id, a.n_segments, a.n_langs, d.dominant_lang,
         d.c * 1000 // a.n_segments AS dominant_milli
       FROM agg a JOIN dom d ON a.doc_id = d.doc_id"""
  }

  private def minhashOracle: String = {
    val P = H.Prime
    val sigEntries = H.permutationSeeds(16, 42L).map { case (a, b) =>
      s"list_min(list_transform(h, x -> ($a * (x % $P) + $b) % $P))"
    }.mkString(",\n           ")
    val bandExprs = (0 until 4).map { bi =>
      s"md5(array_to_string(sig[${bi * 4 + 1}:${bi * 4 + 4}], ','))"
    }.mkString(", ")
    s"""WITH hashes AS (SELECT doc_id, $sqlShingleHashes AS h FROM documents),
       sigs AS (SELECT doc_id, [$sigEntries] AS sig FROM hashes),
       banded AS (SELECT doc_id, sig, [$bandExprs] AS bands FROM sigs)
       SELECT id_a, id_b, est_jaccard FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           list_sum(list_transform(generate_series(1, 16),
             i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))::DOUBLE
             / 16 AS est_jaccard
         FROM banded a JOIN banded b
           ON a.doc_id < b.doc_id AND list_has_any(a.bands, b.bands)) p
       WHERE est_jaccard >= 0.5"""
  }

  /** Recursive-CTE replay of Dedup.duplicateClusters over the minhash
    * pairs: cluster_id = smallest doc_id reachable in the (symmetric)
    * pair graph, singletons label themselves.
    */
  private def dedupComponentsOracle: String =
    s"""WITH RECURSIVE pr AS (SELECT id_a, id_b FROM (
         $minhashOracle) mp),
       e AS (SELECT id_a AS src, id_b AS dst FROM pr
             UNION SELECT id_b, id_a FROM pr),
       reach(id, lab) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.id)
       SELECT id AS doc_id, MIN(lab) AS cluster_id
       FROM reach GROUP BY id"""

  /** Mirror of Sampling.leakageSafeSplit: the component replay's
    * cluster_id hashed with the same score/cut arithmetic as
    * q_det_split.
    */
  private def leakageSafeSplitOracle: String = {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val total  = splits.map(_._2).sum
    val cum    = splits.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val whens  = splits.init.zip(cum.init).map { case ((n, _), c) =>
      s"WHEN sc < $c THEN '$n'"
    }.mkString(" ")
    s"""WITH comp AS (SELECT doc_id, cluster_id
         FROM ($dedupComponentsOracle)),
       scored AS (SELECT doc_id,
         ${hashScoreSql("cluster_id")} AS sc FROM comp)
       SELECT doc_id, CASE $whens ELSE '${splits.last._1}' END AS split
       FROM scored"""
  }

  /** Mirrors Sampling.deterministicSplit(train .8/val .1/test .1):
    * score = int value of the first 15 md5 hex digits / 16^15, CASE on
    * the same cut literals the engine computes (Double.toString embeds
    * the exact doubles, so the boundary bits cannot drift).
    */
  private def detSplitOracle: String = {
    val hexVal =
      "list_sum(list_transform(generate_series(1, 15), i -> " +
      "(strpos('0123456789abcdef', " +
      "substring(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT" +
      " * (1::BIGINT << (4 * (15 - i)))))"
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val total  = splits.map(_._2).sum
    val cum    = splits.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val whens  = splits.init.zip(cum.init).map { case ((n, _), c) =>
      s"WHEN sc < $c THEN '$n'"
    }.mkString(" ")
    s"""WITH s AS (SELECT doc_id,
         ($hexVal)::DOUBLE / 1152921504606846976.0 AS sc
       FROM documents)
       SELECT doc_id, CASE $whens ELSE '${splits.last._1}' END AS split
       FROM s"""
  }

  /** DuckDB replica of HashFunctions.stableHash60 (top 60 md5 bits). */
  private def hash60Sql(expr: String): String =
    "list_sum(list_transform(generate_series(1, 15), i -> " +
    "(strpos('0123456789abcdef', " +
    s"substring(md5($expr), i, 1)) - 1)::BIGINT" +
    " * (1::BIGINT << (4 * (15 - i)))))"

  /** Budgets exercised by q_budget_sample: two partial sources, one
    * single-doc admission (budget 1), one fully-kept source.
    */
  private val budgetSampleBudgets: Map[String, Long] = Map(
    "src0" -> 4000L, "src1" -> 2000L, "src3" -> 1L,
    "src7" -> 99999999L)

  /** Window-sum replay of Sampling.budgetSample: a doc is kept iff
    * the token mass strictly before it (hash-priority order within
    * its source) is under the source's budget. The engine computes
    * the same exclusive sums via the range-partitioned prefix path —
    * same integers, different plan shape.
    */
  private def budgetSampleOracle: String = {
    val bs = budgetSampleBudgets.toSeq.sortBy(_._1)
    val inList = bs.map(b => s"'${b._1}'").mkString(", ")
    val caseB = bs.map { case (s, b) => s"WHEN '$s' THEN $b" }
      .mkString(" ")
    s"""WITH s AS (SELECT doc_id, source, n_chars,
         ${hashScoreSql("doc_id")} AS sc
       FROM documents WHERE source IN ($inList)),
     c AS (SELECT doc_id, source, n_chars,
         COALESCE(SUM(n_chars) OVER (PARTITION BY source
           ORDER BY sc, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS excl
       FROM s)
     SELECT doc_id, source, n_chars FROM c
     WHERE excl < CASE source $caseB ELSE 0 END"""
  }

  /** Mirrors Sampling.temperatureMix(α=½, budget 30000) over the
    * imbalanced derivation: sqrt-mass weights, Σw as a LEFT fold in
    * source order (list_reduce == the operator's foldLeft), floor'd
    * budgets, then the same hashed-prefix-sum selection as
    * q_budget_sample with the budgets JOINED instead of inlined.
    */
  private def temperatureMixOracle: String =
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents
         WHERE doc_id % 20 <= CAST(substring(source, 4) AS INT)),
       m AS (SELECT source, SUM(n_chars)::BIGINT AS mm FROM d
         GROUP BY 1 HAVING SUM(n_chars) > 0),
       w AS (SELECT source, sqrt(mm::DOUBLE) AS ww FROM m),
       sw AS (SELECT list_reduce(list(ww ORDER BY source),
           (a, b) -> a + b) AS s FROM w),
       b AS (SELECT w.source,
           CAST(floor(30000 * w.ww / sw.s) AS BIGINT) AS bud
         FROM w, sw),
       sdf AS (SELECT doc_id, source, n_chars,
           ${hashScoreSql("doc_id")} AS sc FROM d),
       c AS (SELECT doc_id, source, n_chars,
           COALESCE(SUM(n_chars) OVER (PARTITION BY source
             ORDER BY sc, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS excl
         FROM sdf)
       SELECT c.doc_id, c.source, c.n_chars
       FROM c JOIN b ON b.source = c.source WHERE c.excl < b.bud"""

  /** DuckDB replica of [[Sampling.hashScore]] over an id expression. */
  private def hashScoreSql(idExpr: String): String =
    s"(${hash60Sql(s"CAST($idExpr AS VARCHAR)")})::DOUBLE" +
    " / 1152921504606846976.0"

  /** Whitespace tokens, the exact mirror of TextFunctions.tokens. */
  private def tokensSql(expr: String): String =
    s"regexp_split_to_array(trim($expr), '\\s+')"

  /** Word-n-gram list from a token-array expression (mirror of
    * TextFunctions.wordNGrams(_, n), slice-truncation edge included).
    */
  private def ngramsSql(ts: String, n: Int): String =
    s"list_transform(generate_series(1, greatest(len($ts) - ${n - 1}, 1)), " +
    s"i -> array_to_string(list_slice($ts, i, i + ${n - 1}), ' '))"

  private def bigramsSql(ts: String): String = ngramsSql(ts, 2)

  /** Mirror of Decontaminate.flagContaminated(n=5) with the every-50th
    * doc as the simulated benchmark; n_hits counts DISTINCT shared
    * grams (both sides deduplicate their gram lists).
    */
  private def decontaminateOracle: String = {
    val grams = ngramsSql(tokensSql("text"), 5)
    s"""WITH bg AS (SELECT DISTINCT UNNEST(list_distinct($grams)) AS gram
         FROM documents WHERE doc_id % 50 = 0),
       dg AS (SELECT doc_id, UNNEST(list_distinct($grams)) AS gram
         FROM documents)
       SELECT doc_id, COUNT(*) AS n_hits
       FROM dg JOIN bg USING (gram) GROUP BY doc_id"""
  }

  /** Positional 8-gram hash index over documents — mirror of
    * SubstringDedup.positionalGrams(n=8): 0-based pos, slice-truncation
    * edge for short docs, hash60 of the gram string.
    */
  private def substringGramsSql: String = {
    val ts = tokensSql("text")
    s"""SELECT doc_id, pos, ${hash60Sql("gram")} AS h FROM (
         SELECT doc_id, UNNEST(list_transform(
           generate_series(1, greatest(len(ts) - 7, 1)),
           j -> {'pos': CAST(j - 1 AS BIGINT),
                 'gram': array_to_string(list_slice(ts, j, j + 7), ' ')}),
           recursive := true)
         FROM (SELECT doc_id, $ts AS ts FROM documents))"""
  }

  /** Mirror of SubstringDedup.repeatedSpanStats(n=8, minDocs=2). */
  private def substringRepOracle: String = {
    val ts = tokensSql("text")
    s"""WITH g AS ($substringGramsSql),
       rep AS (SELECT h FROM g GROUP BY h
         HAVING COUNT(DISTINCT doc_id) >= 2),
       r AS (SELECT doc_id, COUNT(*) AS n_rep
         FROM g JOIN rep USING (h) GROUP BY doc_id),
       tot AS (SELECT doc_id,
         CAST(greatest(len($ts) - 7, 1) AS BIGINT) AS n_grams
         FROM documents)
       SELECT tot.doc_id, n_grams,
         CAST(COALESCE(n_rep, 0) AS BIGINT) AS n_rep,
         COALESCE(n_rep, 0)::DOUBLE / n_grams AS rep_frac
       FROM tot LEFT JOIN r USING (doc_id)"""
  }

  /** Mirror of SubstringDedup.removeRepeatedSpans(n=8, minDocs=2). */
  private def substringScrubOracle: String = {
    val ts = tokensSql("text")
    s"""WITH t AS (SELECT doc_id, $ts AS ts FROM documents),
       g AS ($substringGramsSql),
       rep AS (SELECT h, MIN(doc_id) AS keeper FROM g GROUP BY h
         HAVING COUNT(DISTINCT doc_id) >= 2),
       cov AS (SELECT DISTINCT doc_id, tp FROM (
         SELECT g.doc_id,
           UNNEST(generate_series(g.pos, g.pos + 7)) AS tp
         FROM g JOIN rep USING (h) WHERE g.doc_id <> rep.keeper)),
       tok AS (SELECT doc_id, UNNEST(list_transform(
           generate_series(1, len(ts)),
           j -> {'tp': CAST(j - 1 AS BIGINT), 'tok': ts[j]}),
         recursive := true) FROM t),
       kept AS (SELECT doc_id,
           string_agg(tok, ' ' ORDER BY tp) AS clean_text,
           COUNT(*) AS n_kept
         FROM tok ANTI JOIN cov USING (doc_id, tp)
         GROUP BY doc_id),
       tot AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS total FROM t)
       SELECT tot.doc_id, COALESCE(clean_text, '') AS clean_text,
         CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
         CAST(total - COALESCE(n_kept, 0) AS BIGINT) AS n_removed
       FROM tot LEFT JOIN kept USING (doc_id)"""
  }

  /** max over distinct repeated bigrams of count·len, 0 when nothing
    * repeats (mirror of TextFunctions.topBigramCharFraction's
    * numerator).
    */
  private def topBigramBestSql(grams: String): String =
    s"list_max(list_transform(list_distinct($grams), " +
    s"g -> CASE WHEN len(list_filter($grams, x -> x = g)) > 1 " +
    s"THEN len(list_filter($grams, x -> x = g))::BIGINT * length(g) " +
    s"ELSE 0::BIGINT END))"

  private def stopwordsArraySql: String =
    graft.functions.TextFunctions.Stopwords
      .map(w => s"'$w'").mkString("[", ",", "]")

  /** The redaction chain is folded from [[graft.functions.TextFunctions
    * .PiiPatterns]] itself — the oracle regexes cannot drift from the
    * operator's (the patterns avoid every Java-vs-RE2 divergence:
    * no backrefs, no lookarounds, no shorthand classes).
    */
  private def piiRedactOracle: String = {
    val base =
      "text || ' reach user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.org or host ' || " +
      "CAST((doc_id % 200) + 10 AS VARCHAR) || " +
      "'.20.30.40, tel +1 (555) 010-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    val redacted = graft.functions.TextFunctions.PiiPatterns
      .foldLeft(base) { case (e, (pat, tag)) =>
        s"regexp_replace($e, '$pat', '$tag', 'g')"
      }
    s"SELECT doc_id, $redacted AS clean FROM documents"
  }

  /** Mirror of TextFunctions.redactPiiFull: email pass, then the
    * Luhn-filtered candidate replace fold (list_prepend + list_reduce
    * replays Spark's aggregate-with-init), then IPv4 + phone. The
    * candidate pattern and chain order come from the operator's own
    * constants.
    */
  private def redactCardsOracle: String = {
    val pats = graft.functions.TextFunctions.PiiPatterns
    val cardPat = graft.functions.TextFunctions.CardCandidatePattern
    val base =
      """text ||
        CASE WHEN doc_id % 3 = 0 THEN ' pay 4111 1111 1111 1111 now'
             WHEN doc_id % 3 = 1 THEN ' amex 378282246310005 ok'
             ELSE ' card 5555-5555-5555-4444 used' END ||
        ' order 4111 1111 1111 1112 kept, ip 10.1.2.3, mail a@b.io'"""
    val t1 =
      s"regexp_replace($base, '${pats(0)._1}', '${pats(0)._2}', 'g')"
    val dg = "regexp_replace(x, '[^0-9]', '', 'g')"
    def digit(i: String) =
      s"CAST(substr($dg, length($dg) - $i + 1, 1) AS INT)"
    val luhn =
      s"""list_sum(list_transform(generate_series(1, length($dg)),
         i -> CASE WHEN i % 2 = 0
           THEN CASE WHEN ${digit("i")} * 2 > 9
             THEN ${digit("i")} * 2 - 9 ELSE ${digit("i")} * 2 END
           ELSE ${digit("i")} END))"""
    val valid =
      s"""list_filter(list_distinct(regexp_extract_all(t1,
         '$cardPat')), x -> length($dg) BETWEEN 13 AND 19
         AND $luhn % 10 = 0)"""
    val carded =
      s"""list_reduce(list_prepend(t1, $valid),
         (acc, x) -> replace(acc, x, '<CARD>'))"""
    val full = pats.tail.foldLeft(carded) { case (e, (p, tag)) =>
      s"regexp_replace($e, '$p', '$tag', 'g')"
    }
    s"""SELECT doc_id, $full AS clean
       FROM (SELECT doc_id, $t1 AS t1 FROM documents) z"""
  }

  /** Mirror of TextFunctions.redactIbans over the planted IBANs:
    * the candidate regex comes from IbanCandidatePattern, the mod-97
    * fold is replayed as an ENCODED list_reduce — each char maps to
    * `multiplier·1000 + value` (digits → 10·1000+d, letters →
    * 100·1000+(A=10…Z=35)) and the fold is
    * `(acc · (x // 1000) + x % 1000) % 97` from a prepended 0, the
    * exact per-step reduction the Column tree does.
    */
  private def redactIbanOracle: String = {
    // DuckDB default strings are not backslash-escaped, so the Java/
    // RE2-shared pattern embeds verbatim
    val pat = graft.functions.TextFunctions.IbanCandidatePattern
    val base =
      """text ||
        CASE WHEN doc_id % 4 = 0 THEN ' acct DE89370400440532013000 eom'
             WHEN doc_id % 4 = 1
               THEN ' acct GB29 NWBK 6016 1331 9268 19 REF7 eom'
             WHEN doc_id % 4 = 2 THEN ' near DE89370400440532013001 eom'
             ELSE ' wire FR1420041010050500013M02606 eom' END ||
        ' ref AB12CDEF kept'"""
    def compact(v: String)  = s"replace($v, ' ', '')"
    def rr(v: String) =
      s"(substr(${compact(v)}, 5) || substr(${compact(v)}, 1, 4))"
    def chx(v: String) = s"ascii(substr(${rr(v)}, i, 1))"
    def enc(v: String) =
      s"""list_transform(generate_series(1, length(${rr(v)})),
         i -> CASE WHEN ${chx(v)} BETWEEN 48 AND 57
           THEN 10 * 1000 + (${chx(v)} - 48)
           ELSE 100 * 1000 + (${chx(v)} - 55) END)"""
    def residue(v: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT), ${enc(v)}),
         (acc, e) -> (acc * (e // 1000) + e % 1000) % 97)"""
    // space-boundary prefixes of a candidate x, longest valid one
    // (DuckDB's l[-1] on an empty list is NULL, pruned below)
    val prefixes =
      s"""list_transform(generate_series(1,
           len(string_split(x, ' '))),
         k -> array_to_string(
           list_slice(string_split(x, ' '), 1, k), ' '))"""
    val validList =
      s"""list_filter($prefixes,
         p -> length(${compact("p")}) BETWEEN 15 AND 34
           AND ${residue("p")} = 1)"""
    val bests =
      s"""list_distinct(list_filter(
         list_transform(list_distinct(regexp_extract_all(b, '$pat')),
           x -> ($validList)[-1]),
         v -> v IS NOT NULL))"""
    s"""SELECT doc_id,
       list_reduce(list_prepend(b, $bests),
         (acc, x) -> replace(acc, x, '<IBAN>')) AS clean
       FROM (SELECT doc_id, $base AS b FROM documents) z"""
  }

  /** Mirror of TextFunctions.extractUrls → urlDomains over the planted
    * URLs; the regex literals come from UrlPattern (single quotes
    * SQL-escaped) so query and oracle cannot drift.
    */
  private def urlDomainsOracle: String = {
    val pat = graft.functions.TextFunctions.UrlPattern
      .replace("'", "''")
    val psl = graft.functions.TextFunctions.MultiPartSuffixes
      .map("'" + _ + "'").mkString(", ")
    val psl3 = graft.functions.TextFunctions.ThreePartSuffixes
      .map("'" + _ + "'").mkString(", ")
    s"""WITH u AS (SELECT doc_id, regexp_extract_all(
         text || ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
           || '.site' || CAST(doc_id % 13 AS VARCHAR)
           || '.org/page/' || CAST(doc_id AS VARCHAR)
           || ' and http://ads' || CAST(doc_id % 3 AS VARCHAR)
           || '.example.net/x'
           || ' plus https://shop.brand' || CAST(doc_id % 5 AS VARCHAR)
           || '.co.uk/p'
           || ' or https://www.dist' || CAST(doc_id % 4 AS VARCHAR)
           || '.k12.ca.us/home',
         '$pat') AS urls FROM documents),
       e AS (SELECT doc_id, UNNEST(list_transform(
           generate_series(1, len(urls)),
           i -> {'url_idx': CAST(i - 1 AS BIGINT), 'u': urls[i]}),
         recursive := true) FROM u),
       h AS (SELECT doc_id, url_idx,
         regexp_replace(regexp_replace(lower(u), '^https?://', ''),
           '[/:].*$$', '') AS host FROM e),
       p AS (SELECT doc_id, url_idx, host,
         string_split(host, '.') AS parts FROM h),
       d AS (SELECT doc_id, url_idx,
         CASE WHEN len(parts) <= 2 THEN host
              WHEN array_to_string(parts[-3:], '.') IN ($psl3)
                AND len(parts) >= 4
                THEN array_to_string(parts[-4:], '.')
              WHEN array_to_string(parts[-2:], '.') IN ($psl)
                THEN array_to_string(parts[-3:], '.')
              ELSE array_to_string(parts[-2:], '.')
         END AS domain FROM p)
       SELECT doc_id, url_idx, domain,
         domain IN ('site3.org', 'site7.org') AS blocked
       FROM d"""
  }

  private def repetitionOracle: String = {
    val ts = tokensSql("text")
    s"""WITH t0 AS (SELECT doc_id, text,
         text || chr(10) ||
           CASE WHEN doc_id % 2 = 0 THEN text ELSE 'tail' END AS doc,
         $ts AS ts FROM documents),
       t1 AS (SELECT doc_id, text, doc,
         string_split(doc, chr(10)) AS ls,
         ${bigramsSql("ts")} AS grams FROM t0)
       SELECT doc_id,
         ROUND((len(ls) - len(list_distinct(ls)))::DOUBLE
           / greatest(len(ls), 1), 6) AS dup_line_frac,
         ROUND(list_sum(list_transform(ls, l ->
             CASE WHEN len(list_filter(ls, x -> x = l)) > 1
               THEN length(l) ELSE 0 END))::DOUBLE
           / greatest(length(doc), 1), 6) AS dup_char_frac,
         ROUND((${topBigramBestSql("grams")})::DOUBLE
           / greatest(length(text), 1), 6) AS top_bigram_frac
       FROM t1"""
  }

  /** Mirrors TextFunctions.defaultQualityRules rule-for-rule; the rule
    * names in the reasons string are the same literals in the same
    * order.
    */
  /** Confusion counts at the pinned thresholds, over the replayed
    * score and keep label; ratios as single divides with 0/0 → null.
    */
  private def thresholdMetricsOracle: String = {
    val ts = Seq(0.2, 0.45, 0.7, 0.95)
    val aggs = ts.zipWithIndex.flatMap { case (t, i) => Seq(
      s"SUM(CASE WHEN s >= $t AND y = 1.0 THEN 1 ELSE 0 END) AS tp$i",
      s"SUM(CASE WHEN s >= $t AND y = 0.0 THEN 1 ELSE 0 END) AS fp$i",
      s"SUM(CASE WHEN s < $t AND y = 1.0 THEN 1 ELSE 0 END) AS fn$i",
      s"SUM(CASE WHEN s < $t AND y = 0.0 THEN 1 ELSE 0 END) AS tn$i")
    }.mkString(", ")
    val rows = ts.zipWithIndex.map { case (t, i) =>
      s"""SELECT $t::DOUBLE AS threshold,
         CAST(tp$i AS BIGINT) AS tp, CAST(fp$i AS BIGINT) AS fp,
         CAST(fn$i AS BIGINT) AS fn, CAST(tn$i AS BIGINT) AS tn,
         CASE WHEN tp$i + fp$i > 0
           THEN tp$i::DOUBLE / (tp$i + fp$i)::DOUBLE END AS precision,
         CASE WHEN tp$i + fn$i > 0
           THEN tp$i::DOUBLE / (tp$i + fn$i)::DOUBLE END AS recall
         FROM a"""
    }.mkString(" UNION ALL ")
    s"""WITH sc AS ($qualityScoreOracle),
       kp AS (SELECT doc_id, keep FROM ($qualityFilterOracle) z),
       j AS (SELECT sc.quality AS s,
           CASE WHEN keep THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS y
         FROM sc JOIN kp USING (doc_id)
         WHERE sc.quality IS NOT NULL AND keep IS NOT NULL),
       a AS (SELECT $aggs FROM j)
       $rows"""
  }

  private def qualityScoreOracle: String =
    """SELECT doc_id,
         (CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) * 0.3::DOUBLE
         + (CASE WHEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
              / GREATEST(length(text), 1) < 0.1::DOUBLE THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) * 0.2::DOUBLE
         + (CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','from','this','be'], t))) AS DOUBLE)
              / GREATEST(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1) > 0.05::DOUBLE
            THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) * 0.3::DOUBLE
         + (CASE WHEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
              / GREATEST(len(regexp_split_to_array(trim(text), '\s+')), 1)
              BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END) * 0.2::DOUBLE
         AS quality
         FROM documents"""

  private[queries] def qualityFilterOracle: String =
    qualityFilterOracleFrom("documents")

  /** The quality-filter replay over any (doc_id, text) source —
    * `src` may be a table name or an outer CTE name (DuckDB scopes
    * outer CTEs into nested WITH subqueries).
    */
  private[queries] def qualityFilterOracleFrom(src: String): String = {
    val ts = tokensSql("text")
    s"""WITH t0 AS (SELECT doc_id, text, $ts AS ts,
         ${tokensSql("lower(text)")} AS lts FROM $src),
       t1 AS (SELECT doc_id, text, ts,
         ${bigramsSql("ts")} AS grams,
         len(list_filter(lts, t ->
           list_contains($stopwordsArraySql, t))) AS stop_hits
         FROM t0),
       t2 AS (SELECT doc_id, text,
         len(ts) BETWEEN 5 AND 100000 AS ok_wc,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
           / greatest(len(ts), 1)
           BETWEEN 2.0::DOUBLE AND 12.0::DOUBLE AS ok_mwl,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) < 0.3::DOUBLE AS ok_digit,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) < 0.3::DOUBLE AS ok_upper,
         stop_hits > 0 AS ok_stop,
         (${topBigramBestSql("grams")})::DOUBLE
           / greatest(length(text), 1) < 0.2::DOUBLE AS ok_rep
         FROM t1)
       SELECT doc_id,
         ok_wc AND ok_mwl AND ok_digit AND ok_upper AND ok_stop
           AND ok_rep AS keep,
         CASE WHEN text IS NULL THEN NULL ELSE concat_ws(',',
           CASE WHEN NOT ok_wc THEN 'word_count' END,
           CASE WHEN NOT ok_mwl THEN 'mean_word_len' END,
           CASE WHEN NOT ok_digit THEN 'digit_ratio' END,
           CASE WHEN NOT ok_upper THEN 'upper_ratio' END,
           CASE WHEN NOT ok_stop THEN 'stopword' END,
           CASE WHEN NOT ok_rep THEN 'repetition' END) END AS reasons
       FROM t2"""
  }

  private def stratifiedSampleOracle: String = {
    val cuts = Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.75)
      .toSeq.sortBy(_._1)
      .map { case (s, f) => s"WHEN '$s' THEN $f::DOUBLE" }
      .mkString(" ")
    s"""WITH s AS (SELECT doc_id, lang,
         ${hashScoreSql("doc_id")} AS sc FROM documents)
       SELECT doc_id, lang FROM s
       WHERE sc < CASE lang $cuts ELSE 1.0::DOUBLE END"""
  }

  /** Mirror of Chunking.chunkByTokens(maxTokens=64, overlap=16):
    * stride 48, per-doc window list unnested recursively so the struct
    * fields become columns.
    */
  private def chunkTokensOracle: String = {
    val ts = tokensSql("text")
    s"""WITH t0 AS (SELECT doc_id, $ts AS ts FROM documents
         WHERE text IS NOT NULL),
       t1 AS (SELECT doc_id, ts,
         1 + CAST(ceil(GREATEST(len(ts) - 64, 0)::DOUBLE / 48) AS INT)
           AS nc FROM t0)
       SELECT doc_id, UNNEST(list_transform(generate_series(0, nc - 1),
         i -> {'chunk_id': CAST(i AS BIGINT),
               'chunk_text': array_to_string(
                 list_slice(ts, i * 48 + 1, i * 48 + 64), ' '),
               'chunk_tokens': CAST(len(
                 list_slice(ts, i * 48 + 1, i * 48 + 64)) AS BIGINT)}),
         recursive := true)
       FROM t1"""
  }

  /** Mirror of CorpusScrub.removeRepeatedSegments(sep=" ",
    * maxRepeats=1000): word-level segments, corpus-wide md5 counts,
    * order-preserving reassembly, empty-doc survival via left join.
    */
  private def corpusScrubOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ps
         FROM documents),
       segs AS (SELECT doc_id, UNNEST(list_transform(
           generate_series(1, len(ps)),
           i -> {'pos': i - 1, 'seg': ps[i]}), recursive := true)
         FROM d),
       freq AS (SELECT md5(seg) AS h, COUNT(*) AS n
         FROM segs GROUP BY 1),
       kept AS (SELECT s.doc_id, s.pos, s.seg
         FROM segs s JOIN freq f ON md5(s.seg) = f.h
         WHERE f.n <= 1000),
       agg AS (SELECT doc_id,
           string_agg(seg, ' ' ORDER BY pos) AS clean_text,
           COUNT(*) AS n_kept
         FROM kept GROUP BY doc_id)
       SELECT d.doc_id, COALESCE(a.clean_text, '') AS clean_text,
         COALESCE(a.n_kept, 0) AS n_kept,
         len(d.ps) - COALESCE(a.n_kept, 0) AS n_removed
       FROM d LEFT JOIN agg a USING (doc_id)"""

  /** Mirror of chunkByTokens(32,0) | packChunks(budget=256, shards=8):
    * same chunk windows, md5-hash shard, per-shard running sum,
    * identical floor arithmetic.
    */
  private def packChunksOracle: String = {
    val ts = tokensSql("text")
    s"""WITH t0 AS (SELECT doc_id, $ts AS ts FROM documents
         WHERE text IS NOT NULL),
       t1 AS (SELECT doc_id, ts,
         1 + CAST(ceil(GREATEST(len(ts) - 32, 0)::DOUBLE / 32) AS INT)
           AS nc FROM t0),
       ch AS (SELECT doc_id, UNNEST(list_transform(
           generate_series(0, nc - 1),
           i -> {'chunk_id': CAST(i AS BIGINT),
                 'chunk_tokens': CAST(len(
                   list_slice(ts, i * 32 + 1, i * 32 + 32)) AS BIGINT)}),
         recursive := true) FROM t1),
       sh AS (SELECT doc_id, chunk_id, chunk_tokens,
         CAST((${hash60Sql("CAST(doc_id AS VARCHAR)")}) % 8 AS BIGINT)
           AS shard
         FROM ch),
       cm AS (SELECT *, SUM(chunk_tokens) OVER (PARTITION BY shard
         ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING) AS cum
         FROM sh)
       SELECT doc_id, chunk_id, shard,
         CAST(floor((cum - chunk_tokens)::DOUBLE / 256) AS BIGINT)
           AS pack_id
       FROM cm"""
  }

  private def simhashOracle: String = {
    val shExpr =
      "list_sum(list_transform(generate_series(0, 59), j -> " +
      "CASE WHEN list_sum(list_transform(h, x -> " +
      "CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
      "THEN (1::BIGINT << j) ELSE 0::BIGINT END))"
    // blocking literals generated from the operator's own chunk table
    // (maxDist = 3 -> 4 chunks) so query and oracle cannot drift
    val chunkCond = Dedup.simhashChunks(4).map { case (off, w) =>
      val mask = (1L << w) - 1
      s"((a.sh >> $off) & $mask) = ((b.sh >> $off) & $mask)"
    }.mkString(" OR ")
    s"""WITH hashes AS (SELECT doc_id, $sqlTokenHashes AS h FROM documents),
       sh AS (SELECT doc_id, $shExpr AS sh FROM hashes)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND ($chunkCond)
       WHERE bit_count(xor(a.sh, b.sh)) <= 3"""
  }

  private def ngramJaccardOracle: String =
    """WITH toks AS (SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
       grams AS (SELECT doc_id, list_distinct(list_transform(
         generate_series(1, greatest(len(tk) - 2, 1)),
         i -> array_to_string(tk[i:i+2], ' '))) AS g FROM toks),
       inv AS (SELECT doc_id, unnest(g) AS gram FROM grams),
       freq AS (SELECT gram, count(*) AS df FROM inv GROUP BY gram),
       kept AS (SELECT doc_id, gram FROM inv JOIN freq USING (gram)
         WHERE df <= 1000),
       cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM kept a JOIN kept b USING (gram) WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING COUNT(*) >= 3)
       SELECT id_a, id_b, jaccard FROM (
         SELECT id_a, id_b,
           len(list_intersect(ga.g, gb.g))::DOUBLE /
             (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))
             AS jaccard
         FROM cand JOIN grams ga ON ga.doc_id = cand.id_a
                   JOIN grams gb ON gb.doc_id = cand.id_b) v
       WHERE jaccard >= 0.8"""

  /** Same candidate construction as the Jaccard replay; containment
    * normalizes by the smaller gram set and names the contained side
    * (smaller set; ties to the lower id).
    */
  private def ngramContainmentOracle: String =
    """WITH toks AS (SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS tk FROM documents),
       grams AS (SELECT doc_id, list_distinct(list_transform(
         generate_series(1, greatest(len(tk) - 2, 1)),
         i -> array_to_string(tk[i:i+2], ' '))) AS g FROM toks),
       inv AS (SELECT doc_id, unnest(g) AS gram FROM grams),
       freq AS (SELECT gram, count(*) AS df FROM inv GROUP BY gram),
       kept AS (SELECT doc_id, gram FROM inv JOIN freq USING (gram)
         WHERE df <= 1000),
       cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM kept a JOIN kept b USING (gram) WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING COUNT(*) >= 3)
       SELECT id_a, id_b, containment,
         CASE WHEN la < lb THEN id_a
              WHEN lb < la THEN id_b ELSE id_a END AS contained_id
       FROM (
         SELECT id_a, id_b, len(ga.g) AS la, len(gb.g) AS lb,
           len(list_intersect(ga.g, gb.g))::DOUBLE /
             least(len(ga.g), len(gb.g))::DOUBLE AS containment
         FROM cand JOIN grams ga ON ga.doc_id = cand.id_a
                   JOIN grams gb ON gb.doc_id = cand.id_b) v
       WHERE containment >= 0.8"""

  /** q_mojibake plants, explicit code points so the oracle replays
    * byte-for-byte: (0) UTF-8-as-Latin-1 'é' ('Ã'+U+00A9), (1) a
    * replacement char, (2) Latin-1 mis-decoded smart quotes
    * ('â'+U+0080+U+0099/9C/9D), (3) CLEAN accents that must NOT
    * count, (4) cp1252 mis-decoded ellipsis/left-quote —
    * 'â'+U+20AC+U+00A6 and 'â'+U+20AC+U+0153 (bytes E2 80 A6 /
    * E2 80 9C read as Windows-1252).
    */
  private val MojiPlants: Seq[String] = Seq(
    " caf\u00c3\u00a9 r\u00c3\u00a9sum\u00c3\u00a9",
    " bad\ufffdchar",
    " it\u00e2\u0080\u0099s \u00e2\u0080\u009cquoted\u00e2\u0080\u009d",
    " caf\u00e9 r\u00e9sum\u00e9 na\u00efve",
    " wait\u00e2\u20ac\u00a6 \u00e2\u20ac\u0153ok")

  /** q_fix_encoding probe: clean text covering 2-byte accents, smart
    * punctuation (3-byte UTF-8), cp1252 2-byte ('š'), and the
    * undefined-cp1252-byte digraph (right double quote, byte 0x9D).
    * No ASCII quote characters — the string embeds verbatim in a SQL
    * literal on the oracle side.
    */
  private val FixProbeClean: String =
    " café naïve – it’s “quoted”" +
      " wait… €9.99 škola"

  /** The probe mis-decoded by the same byte mapping
    * [[graft.functions.TextFunctions.MojibakeRepairs]] inverts, plus
    * a DOUBLY-damaged 'é' pinning the one-pass nested-repair order.
    */
  private val FixProbeDamaged: String =
    FixProbeClean.flatMap(ch =>
      if (ch < 0x80) ch.toString else T.mojibakeOf(ch)) +
      " " + T.mojibakeOf('é').flatMap(T.mojibakeOf)

  /** What fixEncoding must produce from [[FixProbeDamaged]]. */
  private val FixProbeFixed: String = FixProbeClean + " é"

  /** From-scratch replay of Retrieval.bm25TopK at k1=1200, b=750,
    * k=10 over the derived 6-token queries from docs 0-2: every
    * fixed-point step rebuilt in DuckDB's `//` (floor division ==
    * Spark's DIV on these non-negative operands), ranking replayed
    * with the same (score DESC, doc_id ASC) tie-break.
    */
  private def bm25Oracle: String =
    s"""WITH docs AS (SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS ts
         FROM documents),
       tot AS (SELECT COUNT(*)::BIGINT AS nd,
         SUM(len(ts))::BIGINT AS tt FROM docs),
       qterms AS (SELECT DISTINCT doc_id AS query_id,
           UNNEST(ts[1:6]) AS term
         FROM docs WHERE doc_id < 3),
       qvocab AS (SELECT DISTINCT term FROM qterms),
       tok AS (SELECT doc_id, len(ts)::BIGINT AS dl, UNNEST(ts) AS term
         FROM docs),
       tf AS (SELECT t.doc_id, t.term, COUNT(*)::BIGINT AS tf,
           MAX(t.dl) AS dl
         FROM tok t JOIN qvocab v ON v.term = t.term GROUP BY 1, 2),
       dft AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
       sc AS (SELECT f.doc_id, f.term,
           ((2 * (tot.nd - d.df) + 1) * 1000) // (2 * d.df + 1) AS idf,
           (f.tf * 2200 * 1000) // (f.tf * 1000 +
             (1200 * (250 + (750 * f.dl * tot.nd) // tot.tt)) // 1000)
             AS tfw
         FROM tf f JOIN dft d ON d.term = f.term CROSS JOIN tot),
       per AS (SELECT q.query_id, s.doc_id,
           CAST(SUM(s.idf * s.tfw) AS BIGINT) AS score_micro
         FROM sc s JOIN qterms q ON q.term = s.term GROUP BY 1, 2)
       SELECT query_id, doc_id, score_micro, rank FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY score_micro DESC, doc_id) AS rank FROM per) z
       WHERE rank <= 10"""

  /** Shared snapshot sides for the content-diff oracles — mirrors the
    * q_snapshot_diff query's derivation exactly.
    */
  private def snapshotDiffCtes: String =
    s"""o AS (SELECT doc_id, text FROM documents
         WHERE doc_id % 10 <> 3),
       n AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END
             AS text
         FROM documents WHERE doc_id % 10 <> 7)"""
}
