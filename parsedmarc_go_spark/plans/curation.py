"""Curation-pass queries over `documents`: PII redaction, repetition
stats, benchmark decontamination — each with a full DuckDB oracle.

The PII gate injects deterministic doc_id-derived PII (email / IPv4 /
phone) into every document on BOTH engines before redacting, so the
redaction regexes are exercised on every row instead of no-op'ing on
the synthetic corpus. Patterns stay inside the Java-regex ∩ RE2 common
subset (see operators/curation.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parsedmarc_go_spark.operators.curation import (
    PII_EMAIL_RE,
    PII_IPV4_RE,
    PII_PHONE_RE,
    gopher_quality_filter,
    ngram_decontaminate,
    pii_counts,
    pii_redact,
    repetition_stats,
    sample_stratified,
    sample_token_budget,
)
from parsedmarc_go_spark.plans.registry import query
from parsedmarc_go_spark.tables import load

# SQL string literals: patterns contain backslashes only (no quotes);
# DuckDB non-E'' strings keep backslashes literal.
_PII_ORACLE = (
    """
    WITH t AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com from 10.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.0.' || CAST(doc_id % 250 + 1 AS VARCHAR)
                  || ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS itext
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(itext, '"""
    + PII_EMAIL_RE
    + """')) AS n_emails,
           len(regexp_extract_all(itext, '"""
    + PII_PHONE_RE
    + """')) AS n_phones,
           len(regexp_extract_all(itext, '"""
    + PII_IPV4_RE
    + """')) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(itext,
               '"""
    + PII_EMAIL_RE
    + """', '<EMAIL>', 'g'),
               '"""
    + PII_PHONE_RE
    + """', '<PHONE>', 'g'),
               '"""
    + PII_IPV4_RE
    + """', '<IP>', 'g') AS redacted
    FROM t
    """
)


@query("text_pii_redact", oracle=_PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub as a codegen'd regexp_replace chain (no UDF). The
    injected suffix makes every row carry one email, one IPv4, one
    phone — both engines build the identical string, so the gate
    value-checks counts AND the redacted text."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com from 10."),
        (d % 200).cast("string"),
        F.lit(".0."),
        ((d % 250) + 1).cast("string"),
        F.lit(" call 555-867-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    t = docs.select("doc_id", injected.alias("itext"))
    n_emails, n_phones, n_ips = pii_counts(F.col("itext"))
    return t.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
        pii_redact(F.col("itext")).alias("redacted"),
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    tb AS (SELECT doc_id, toks,
           CASE WHEN len(toks) < 2 THEN [] ELSE
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
           END AS bigrams
           FROM t),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM tb),
    tc AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY doc_id, tk),
    ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_distinct, max(c) AS top_c
           FROM tc GROUP BY doc_id),
    big AS (SELECT doc_id, unnest(bigrams) AS b FROM tb),
    bc AS (SELECT doc_id, b, count(*) AS c FROM big GROUP BY doc_id, b),
    bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, max(c) AS top_bc
           FROM bc GROUP BY doc_id)
    SELECT ts.doc_id, n_tokens,
           CAST(n_tokens - n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup_token_frac,
           CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac,
           CAST(top_bc AS DOUBLE) / CAST(nb AS DOUBLE) AS top_bigram_frac
    FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition filters (Rae et al. 2021 §A.1.1):
    duplicate-token fraction and top token / bigram frequency share."""
    return repetition_stats(load(spark, sf_dir, "documents"))


@query(
    "decontaminate_ngram",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    g AS (SELECT doc_id,
          CASE WHEN len(toks) < 8 THEN [] ELSE
            list_distinct(list_transform(range(1, len(toks) - 6),
                                         i -> array_to_string(toks[i:i+7], ' ')))
          END AS ngrams
          FROM t),
    ev AS (SELECT DISTINCT unnest(ngrams) AS ng FROM g WHERE doc_id % 50 = 0),
    corp AS (SELECT doc_id, ngrams FROM g WHERE doc_id % 50 <> 0),
    cg AS (SELECT doc_id, unnest(ngrams) AS ng FROM corp),
    hits AS (SELECT doc_id, count(*) AS n_overlap
             FROM cg JOIN ev USING (ng) GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(len(c.ngrams) AS BIGINT) AS n_distinct_ngrams,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
             / NULLIF(CAST(len(c.ngrams) AS DOUBLE), 0.0) AS contam_frac
    FROM corp c LEFT JOIN hits h ON c.doc_id = h.doc_id
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 50 == 0 stand in
    for the held-out eval set; every other doc reports how many of its
    distinct 8-grams the eval set contains (GPT-3 §C / Llama 2 §A.6
    style). Eval side broadcasts; corpus shuffles once on doc_id."""
    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    out = ngram_decontaminate(corpus, bench, n=8)
    return out.select(
        "doc_id",
        F.col("n_distinct_ngrams").cast("long").alias("n_distinct_ngrams"),
        "n_overlap",
        "contam_frac",
    )


@query(
    "sample_stratified",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT doc_id, source FROM r WHERE rn <= 10
    """,
)
def sample_stratified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sample (10 docs/source) in deterministic md5
    hash order — the data-mixing primitive. One shuffle on `source`."""
    docs = load(spark, sf_dir, "documents")
    return sample_stratified(docs, "source", 10).select("doc_id", "source")


@query(
    "sample_token_budget",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             CAST(sum(n_chars) OVER (PARTITION BY source
                                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_size
      FROM documents)
    SELECT doc_id, source, n_chars, cum_size FROM r WHERE cum_size <= 3000
    """,
)
def sample_token_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source char-budget sample (3,000 chars/source) in the
    same hash order; exact-int running sum so the cut is engine-stable."""
    docs = load(spark, sf_dir, "documents")
    return sample_token_budget(docs, "source", "n_chars", 3000).select(
        "doc_id", "source", "n_chars", F.col("cum_size").cast("long").alias("cum_size")
    )


@query(
    "sample_hash_threshold",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '26666666'
    """,
)
def sample_hash_threshold_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~15% corpus sample as a pure filter (no window, no shuffle) —
    the form the quota samplers defer to for hot strata; '26666666' is
    hex(floor(0.15 * 16^8))."""
    from parsedmarc_go_spark.operators.curation import sample_hash_threshold

    docs = load(spark, sf_dir, "documents")
    return sample_hash_threshold(docs, 0.15).select("doc_id", "source")


# The canonicalization CTE chain, shared by the url_canonicalize gate
# and the r9 URL-dedup gate (same planted messy URLs, same canonical
# form — one definition so the two oracles can never drift).
_URL_CANON_CTES = r"""
    WITH t AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN 'HTTP://Example' || CAST(doc_id % 7 AS VARCHAR)
                           || '.COM:80/p/' || CAST(doc_id AS VARCHAR)
                           || '?z=9&utm_source=f&a=1#frag'
               WHEN 1 THEN 'https://Sub.Example' || CAST(doc_id % 7 AS VARCHAR)
                           || '.com:443/q/' || CAST(doc_id AS VARCHAR)
               ELSE 'http://example' || CAST(doc_id % 7 AS VARCHAR)
                           || '.com:8080/r?gclid=x&b=2&a=10'
             END AS url
      FROM documents),
    s AS (
      SELECT doc_id, url,
             regexp_replace(url, '#.*', '') AS nofrag,
             regexp_extract(regexp_replace(url, '#.*', ''),
                            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*') AS prefix
      FROM t),
    p AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(lower(prefix),
                 '^(http://[^/?#:]*):80$', '\1'),
                 '^(https://[^/?#:]*):443$', '\1') AS lowpre,
             substr(nofrag, len(prefix) + 1) AS rest
      FROM s),
    q AS (
      SELECT doc_id, url, lowpre,
             CASE WHEN instr(rest, '?') > 0
                  THEN substr(rest, 1, instr(rest, '?') - 1) ELSE rest END AS path,
             CASE WHEN instr(rest, '?') > 0
                  THEN substr(rest, instr(rest, '?') + 1) ELSE '' END AS query
      FROM p),
    f AS (
      SELECT doc_id, url, lowpre, path,
             -- COALESCE: DuckDB's list_sort/array_to_string yield NULL
             -- for an EMPTY list where Spark yields '' (the ADVICE-r6
             -- all-NULL-group quirk, same root)
             COALESCE(array_to_string(list_sort(list_filter(string_split(query, '&'),
               x -> len(x) > 0 AND substr(x, 1, 4) <> 'utm_'
                    AND substr(x, 1, 7) <> 'fbclid=' AND substr(x, 1, 6) <> 'gclid=')),
               '&'), '') AS sorted_q
      FROM q)
"""


@query(
    "url_canonicalize",
    oracle=_URL_CANON_CTES
    + """
    SELECT doc_id, url,
           lowpre || path || CASE WHEN sorted_q = '' THEN '' ELSE '?' || sorted_q END
             AS canon_url
    FROM f
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl hygiene: canonicalize deterministic doc_id-derived messy
    URLs (case-mixed host, default/odd ports, tracking params,
    fragments, unordered query) identically on both engines, then
    value-check the canonical form cell-for-cell."""
    from parsedmarc_go_spark.operators.curation import canonical_url

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    url = (
        F.when(
            (d % 3) == 0,
            F.concat(
                F.lit("HTTP://Example"), (d % 7).cast("string"),
                F.lit(".COM:80/p/"), ds, F.lit("?z=9&utm_source=f&a=1#frag"),
            ),
        )
        .when(
            (d % 3) == 1,
            F.concat(
                F.lit("https://Sub.Example"), (d % 7).cast("string"),
                F.lit(".com:443/q/"), ds,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://example"), (d % 7).cast("string"),
                F.lit(".com:8080/r?gclid=x&b=2&a=10"),
            )
        )
    )
    t = docs.select("doc_id", url.alias("url"))
    return t.select("doc_id", "url", canonical_url(F.col("url")).alias("canon_url"))


@query(
    "boilerplate_chunks",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    s AS (SELECT doc_id, unnest(range(0, len(toks), 32)) AS start, toks FROM d),
    c AS (SELECT doc_id, array_to_string(toks[start+1:start+32], ' ') AS chunk_text FROM s),
    h AS (SELECT chunk_text, count(DISTINCT doc_id) AS nd FROM c GROUP BY chunk_text)
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(count(*) FILTER (WHERE h.nd >= 2) AS BIGINT) AS n_boiler_chunks,
           CAST(count(*) FILTER (WHERE h.nd >= 2) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS boiler_frac
    FROM c JOIN h USING (chunk_text)
    GROUP BY c.doc_id
    """,
)
def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate detection: a disjoint 32-token
    block that appears in >=2 distinct documents is boilerplate (nav
    bars, license headers, templated footers in crawl data); each doc
    reports its boilerplate-block fraction.

    Scale shape: the chunks frame is shuffled on chunk_text twice —
    once under the distinct-doc count, once as the join probe — but
    the two exchanges are byte-identical (same child, same
    partitioning), which is exactly the shape AQE's shuffle-stage
    reuse deduplicates at runtime; the final doc_id aggregation is the
    third exchange. At 100 TB the count table is as large as the
    distinct-chunk space — this stays a shuffle join by design
    (broadcasting it is the mistake)."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.lower("text"), " ")
    )
    starts = F.sequence(F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(32))
    chunks = (
        docs.select("doc_id", "toks", F.explode(starts).alias("start"))
        .filter(F.col("start") < F.size("toks"))
        .select(
            "doc_id",
            F.array_join(F.slice("toks", F.col("start") + 1, 32), " ").alias("chunk_text"),
        )
    )
    counts = chunks.groupBy("chunk_text").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        chunks.join(counts, "chunk_text")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_boiler_chunks"),
            (
                F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("double")
                / F.count("*").cast("double")
            ).alias("boiler_frac"),
        )
    )


@query(
    "gopher_quality_filter",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) AS mean_word_len,
            CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
            toks
          FROM t),
    tb AS (SELECT doc_id,
           CASE WHEN len(toks) < 2 THEN [] ELSE
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
           END AS bigrams
           FROM s),
    big AS (SELECT doc_id, unnest(bigrams) AS b FROM tb),
    bc AS (SELECT doc_id, b, count(*) AS c FROM big GROUP BY doc_id, b),
    bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, max(c) AS top_bc
           FROM bc GROUP BY doc_id),
    j AS (SELECT s.doc_id, n_tokens, mean_word_len, alpha_word_frac,
                 CAST(top_bc AS DOUBLE) / CAST(nb AS DOUBLE) AS top_bigram_frac
          FROM s LEFT JOIN bs ON s.doc_id = bs.doc_id),
    r AS (SELECT *,
            CASE WHEN n_tokens < 50 OR n_tokens > 100000 THEN 'word_count'
                 WHEN mean_word_len < 3.0 OR mean_word_len > 4.5 THEN 'mean_word_len'
                 WHEN alpha_word_frac < 0.8 THEN 'alpha_words'
                 WHEN top_bigram_frac > 0.2 THEN 'repetition'
                 ELSE NULL END AS fail_reason
          FROM j)
    SELECT doc_id, n_tokens, mean_word_len, alpha_word_frac, top_bigram_frac,
           fail_reason, fail_reason IS NULL AS keep
    FROM r
    """,
)
def gopher_quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed Gopher rule set with the FIRST failing rule named
    per doc (Rae et al. 2021 §A.1.1). The gate tightens
    max_mean_word_len to 4.5 (corpus mean word lengths span 3.7-5.3,
    word counts 10-99) so the synthetic corpus exercises keeps AND
    every reachable fail_reason branch; the public defaults live on the
    operator."""
    return gopher_quality_filter(
        load(spark, sf_dir, "documents"), max_mean_word_len=4.5
    )


@query(
    "pack_sequences",
    oracle="""
    WITH r AS (
      SELECT doc_id, n_chars,
             CAST(sum(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM documents)
    SELECT doc_id,
           cum - n_chars AS start_offset,
           cum AS end_offset,
           CAST(floor(CAST(cum - n_chars AS DOUBLE) / 2048) AS BIGINT) AS first_seq,
           CAST(floor(CAST(cum - 1 AS DOUBLE) / 2048) AS BIGINT) AS last_seq
    FROM r
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing offsets on the md5-ordered global tape. The
    oracle is the naive ONE-WINDOW running sum; the Spark side is the
    two-phase distributed prefix sum (operators/curation.py::
    pack_offsets) — the gate therefore proves the scale-safe
    decomposition value-identical to the single-node formulation."""
    from parsedmarc_go_spark.operators.curation import pack_offsets

    return pack_offsets(load(spark, sf_dir, "documents"), "n_chars", 2048)


# CCNet LM-quality gate (round 9, Wenzek et al. 2020 §3.2): train the
# add-alpha bigram LM on the doc_id % 10 == 0 reference slice and score
# EVERY document. Per-pair log-probs are quantized to a 1e-4 grid
# before the integer sum (registry fixed-point rule), so nll is
# engine-exact; ln() itself may differ by ulps across libms but the
# grid absorbs that except on measure-zero boundaries. Born demoted:
# its machinery is hash-checked in-window piecewise — the pair
# explode + broadcast-probe by decontaminate_ngram, the bigram
# grouping by text_repetition_stats, the fixed-point agg by the
# a-family sums; pytest value-checks the whole gate at two SFs.
_LM_ORACLE = """
    WITH ref AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM documents WHERE doc_id % 10 = 0),
    rp AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM ref, unnest(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
    bg AS (SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY w1, w2),
    hist AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1),
    v AS (SELECT count(DISTINCT tok) AS v
          FROM (SELECT unnest(toks) AS tok FROM ref)),
    cd AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    cp AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM cd, unnest(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
    sc AS (SELECT cp.doc_id,
                  CAST(floor(ln((CAST(COALESCE(bg.c12, 0) AS DOUBLE) + 0.5)
                                / (CAST(COALESCE(hist.c1, 0) AS DOUBLE)
                                   + 0.5 * (CAST(v.v AS DOUBLE) + 1.0)))
                             * 10000.0 + 0.5) AS BIGINT) AS lp_fp
           FROM cp LEFT JOIN bg ON cp.w1 = bg.w1 AND cp.w2 = bg.w2
                   LEFT JOIN hist ON cp.w1 = hist.w1
                   CROSS JOIN v),
    pd AS (SELECT doc_id, count(*) AS n_bigrams,
                  -(CAST(SUM(lp_fp) AS DOUBLE) / 10000.0)
                    / CAST(count(*) AS DOUBLE) AS nll
           FROM sc GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams, pd.nll
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
"""


@query("quality_lm_score", oracle=_LM_ORACLE)
def quality_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: smoothed bigram LM trained on
    the doc_id % 10 reference slice, every document scored with
    grid-exact average negative log prob. See operators/lm.py for the
    100 TB shape (broadcast LM probe, no global windows)."""
    from parsedmarc_go_spark.operators.lm import lm_score, train_bigram_lm

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    bigrams, histories, vocab = train_bigram_lm(ref)
    return lm_score(docs, bigrams, histories, vocab)


# DSIR gate (round 9, Xie et al. 2023): importance log-weights from the
# target (doc_id % 10 == 0) vs raw (full corpus) bigram models, Gumbel
# top-k selection with the md5 hash-order uniform. log_w is the
# difference of two exact integer sums (grid-exact); the Gumbel key is
# ordering-only, so ln() ulp differences can flip the set only on
# measure-zero near-ties. Born demoted: the LM probe machinery is
# quality_lm_score's (itself piecewise-covered in-window), the
# hash-order uniform is sample_stratified's (in-window), top-k is a7's;
# pytest value-checks the whole gate at two SFs.
_DSIR_K = 100
_DSIR_ORACLE = f"""
    WITH cd AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                FROM documents),
    tref AS (SELECT * FROM cd WHERE doc_id % 10 = 0),
    tp AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM tref, unnest(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
    tbg AS (SELECT w1, w2, count(*) AS c12 FROM tp GROUP BY w1, w2),
    th AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM tbg GROUP BY w1),
    tv AS (SELECT count(DISTINCT tok) AS v
           FROM (SELECT unnest(toks) AS tok FROM tref)),
    rp AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM cd, unnest(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
    rbg AS (SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY w1, w2),
    rh AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM rbg GROUP BY w1),
    rv AS (SELECT count(DISTINCT tok) AS v
           FROM (SELECT unnest(toks) AS tok FROM cd)),
    cp AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM cd, unnest(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
    sc AS (SELECT cp.doc_id,
                  CAST(floor(ln((CAST(COALESCE(tbg.c12, 0) AS DOUBLE) + 0.5)
                                / (CAST(COALESCE(th.c1, 0) AS DOUBLE)
                                   + 0.5 * (CAST(tv.v AS DOUBLE) + 1.0)))
                             * 10000.0 + 0.5) AS BIGINT) AS t_lp,
                  CAST(floor(ln((CAST(COALESCE(rbg.c12, 0) AS DOUBLE) + 0.5)
                                / (CAST(COALESCE(rh.c1, 0) AS DOUBLE)
                                   + 0.5 * (CAST(rv.v AS DOUBLE) + 1.0)))
                             * 10000.0 + 0.5) AS BIGINT) AS r_lp
           FROM cp LEFT JOIN tbg ON cp.w1 = tbg.w1 AND cp.w2 = tbg.w2
                   LEFT JOIN th ON cp.w1 = th.w1
                   LEFT JOIN rbg ON cp.w1 = rbg.w1 AND cp.w2 = rbg.w2
                   LEFT JOIN rh ON cp.w1 = rh.w1
                   CROSS JOIN tv CROSS JOIN rv),
    pd AS (SELECT doc_id, count(*) AS n_bigrams,
                  CAST(SUM(t_lp) - SUM(r_lp) AS DOUBLE) / 10000.0 AS log_w
           FROM sc GROUP BY doc_id),
    al AS (SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams,
                  COALESCE(pd.log_w, 0.0) AS log_w
           FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id),
    ky AS (SELECT doc_id, n_bigrams, log_w,
                  log_w + (-ln(-ln(
                    (CAST(CAST(CONCAT('0x',
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)))
                    AS gkey
           FROM al)
    SELECT doc_id, n_bigrams, log_w FROM ky
    ORDER BY gkey DESC, doc_id LIMIT {_DSIR_K}
"""


@query("dsir_sample", oracle=_DSIR_ORACLE)
def dsir_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: top-k by Gumbel-perturbed importance
    log-weight (target bigram LM over the doc_id % 10 slice vs raw LM
    over the full corpus). See operators/lm.py for the one-scan
    double-probe shape."""
    from parsedmarc_go_spark.operators.lm import dsir_sample, train_bigram_lm

    docs = load(spark, sf_dir, "documents")
    target_lm = train_bigram_lm(docs.filter(F.col("doc_id") % 10 == 0))
    raw_lm = train_bigram_lm(docs)
    return dsir_sample(docs, target_lm, raw_lm, k=_DSIR_K)


# NB quality-classifier gate (round 9): train on two labeled slices
# (hq = doc_id % 10 == 0, lq = doc_id % 10 == 5), score EVERY document
# against both classes (long form — one row per doc x label).
# Grid-quantized token log-likelihoods + prior make every score
# engine-exact. Born demoted: the explode/broadcast-probe/fixed-point
# machinery is quality_lm_score's (piecewise in-window via
# decontaminate_ngram + text_repetition_stats + the a-family); pytest
# value-checks the whole gate at two SFs.
_NB_ORACLE = """
    WITH lab AS (
      SELECT CASE WHEN doc_id % 10 = 0 THEN 'hq' ELSE 'lq' END AS label,
             lower(text) AS lt
      FROM documents WHERE doc_id % 10 = 0 OR doc_id % 10 = 5),
    tk AS (SELECT label, unnest(string_split(lt, ' ')) AS tok FROM lab),
    cnt AS (SELECT label, tok, count(*) AS c FROM tk GROUP BY label, tok),
    tot AS (SELECT label, CAST(sum(c) AS BIGINT) AS total FROM cnt GROUP BY label),
    pri AS (SELECT label, count(*) AS n_docs FROM lab GROUP BY label),
    nd AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM pri),
    pf AS (SELECT label,
                  CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(nd.nd AS DOUBLE))
                             * 10000.0 + 0.5) AS BIGINT) AS prior_fp
           FROM pri CROSS JOIN nd),
    v AS (SELECT count(DISTINCT tok) AS v FROM tk),
    ct AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
           FROM documents),
    pr AS (SELECT ct.doc_id, l.label,
                  CAST(floor(ln((CAST(COALESCE(cnt.c, 0) AS DOUBLE) + 0.5)
                                / (CAST(tot.total AS DOUBLE)
                                   + 0.5 * (CAST(v.v AS DOUBLE) + 1.0)))
                             * 10000.0 + 0.5) AS BIGINT) AS lp
           FROM ct CROSS JOIN (SELECT label FROM pri) l
                LEFT JOIN cnt ON l.label = cnt.label AND ct.tok = cnt.tok
                JOIN tot ON l.label = tot.label
                CROSS JOIN v),
    pd AS (SELECT doc_id, label, count(*) AS n_tokens,
                  CAST(sum(lp) AS BIGINT) AS s
           FROM pr GROUP BY doc_id, label),
    base AS (SELECT d.doc_id, p.label
             FROM documents d CROSS JOIN (SELECT label FROM pri) p)
    SELECT base.doc_id, base.label,
           COALESCE(pd.n_tokens, 0) AS n_tokens,
           CAST(COALESCE(pd.s, 0) + pf.prior_fp AS DOUBLE) / 10000.0 AS score
    FROM base LEFT JOIN pd ON base.doc_id = pd.doc_id AND base.label = pd.label
              JOIN pf ON base.label = pf.label
"""


@query("quality_nb_classifier", oracle=_NB_ORACLE)
def quality_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style quality classifier as aggregation-shaped Naive
    Bayes: trained on two labeled corpus slices, every document scored
    against both classes. See operators/classify.py for the 100 TB
    shape (broadcast model probe, one corpus scan)."""
    from parsedmarc_go_spark.operators.classify import nb_score, train_nb_classifier

    docs = load(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    labeled = docs.filter((m == 0) | (m == 5)).select(
        F.when(m == 0, F.lit("hq")).otherwise(F.lit("lq")).alias("label"), "text"
    )
    return nb_score(docs, train_nb_classifier(labeled))


# Temperature-mixing gate (round 9, T5 §3.4): n_s^0.5-weighted quotas
# over the source strata, k=200. The pow() output is 1e-6-grid
# quantized before the integer normalizing sum, so quotas are
# engine-exact; membership is the md5 hash order. Born demoted: the
# count-agg + hash-order-window machinery is sample_stratified's
# (in-window via the r9 rotation's sample_token_budget slot family);
# pytest value-checks it at two SFs.
_TEMP_K, _TEMP_TAU = 200, 0.5
_TEMP_ORACLE = f"""
    WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    p AS (SELECT source,
                 CAST(floor(pow(CAST(n_s AS DOUBLE), {_TEMP_TAU})
                            * 1000000.0 + 0.5) AS BIGINT) AS p_fp
          FROM c),
    z AS (SELECT CAST(sum(p_fp) AS BIGINT) AS z_fp FROM p),
    q AS (SELECT source,
                 CAST(floor({float(_TEMP_K)} * CAST(p_fp AS DOUBLE)
                            / CAST(z_fp AS DOUBLE)) AS BIGINT) AS quota
          FROM p CROSS JOIN z),
    r AS (SELECT d.doc_id, d.source, q.quota,
                 row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
          FROM documents d JOIN q ON d.source = q.source)
    SELECT doc_id, source FROM r WHERE rn <= quota
"""


@query("sample_temperature", oracle=_TEMP_ORACLE)
def sample_temperature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (tau=0.5, k=200). See
    operators/curation.py::sample_temperature."""
    from parsedmarc_go_spark.operators.curation import sample_temperature

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_temperature(docs, "source", k=_TEMP_K, tau=_TEMP_TAU)


# C4 cleaning gate (round 9, Raffel 2020 §2.2): the synthetic docs are
# single-line, so both engines assemble an identical 7-line page per
# document exercising every rule — kept sentences, a no-punctuation
# line, a too-short line, a javascript line, and doc_id-classed lorem
# ipsum / brace drops. DuckDB string literals keep backslashes, so the
# oracle uses chr(10) for the line separator. Born demoted: pure
# string-expression machinery (regexp/substring family in-window via
# text_pii_redact; line explode/re-join logic value-checked whole here
# and at two SFs in pytest).
_C4_ORACLE = """
    WITH base AS (
      SELECT doc_id,
             'Sentence alpha number ' || CAST(doc_id % 9 AS VARCHAR) || '.'
             || chr(10) || 'no terminal punctuation line'
             || chr(10) || 'Too short.'
             || chr(10) || substr(text, 1, 60) || ' tail words here.'
             || chr(10) || 'Enable javascript to view this page.'
             || chr(10) || CASE WHEN doc_id % 11 = 0
                  THEN 'Hidden Lorem Ipsum marker here.'
                  ELSE 'A normal closing sentence here.' END
             || chr(10) || CASE WHEN doc_id % 13 = 0
                  THEN 'code { block'
                  ELSE 'Final line with punctuation!' END AS text
      FROM documents),
    t AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM base),
    k AS (SELECT doc_id, text, len(lines) AS n_lines,
                 list_filter(lines, x ->
                   right(x, 1) IN ('.', '!', '?', '"')
                   AND len(string_split(x, ' ')) >= 3
                   AND NOT contains(lower(x), 'javascript')) AS kept
          FROM t),
    c AS (SELECT doc_id, text, n_lines, len(kept) AS n_kept_lines,
                 array_to_string(kept, chr(10)) AS clean_text
          FROM k),
    s AS (SELECT *, len(regexp_replace(clean_text, '[^.!?]', '', 'g'))
                      AS n_sentences
          FROM c)
    SELECT doc_id, clean_text, n_lines, n_kept_lines, n_sentences,
           (n_sentences >= 5
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(text, '{')) AS keep
    FROM s
"""


@query("text_c4_clean", oracle=_C4_ORACLE)
def text_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line+document cleaning rules over planted multi-line pages.
    See operators/curation.py::c4_clean."""
    from parsedmarc_go_spark.operators.curation import c4_clean

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    itext = F.concat_ws(
        "\n",
        F.concat(F.lit("Sentence alpha number "), (d % 9).cast("string"), F.lit(".")),
        F.lit("no terminal punctuation line"),
        F.lit("Too short."),
        F.concat(F.substring("text", 1, 60), F.lit(" tail words here.")),
        F.lit("Enable javascript to view this page."),
        F.when(d % 11 == 0, F.lit("Hidden Lorem Ipsum marker here."))
        .otherwise(F.lit("A normal closing sentence here.")),
        F.when(d % 13 == 0, F.lit("code { block"))
        .otherwise(F.lit("Final line with punctuation!")),
    )
    t = docs.select("doc_id", itext.alias("text"))
    return c4_clean(t)


# T5 span-corruption gate (round 9, Raffel 2020 §3.1.4): deterministic
# hash-seeded masking (threshold 0ccccccc = floor(0.15/3 * 16^8), span
# length 3) over the raw token stream; input/target re-assembled
# in-order on both engines and value-checked cell-for-cell. Born
# demoted: posexplode + doc-keyed windows + ordered re-assembly are
# dedup_paragraph's / a18-a19's machinery, the hash threshold is
# sample_hash_threshold's; pytest value-checks the composed gate at
# two SFs.
_SPANC_ORACLE = """
    WITH tk AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
                FROM (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents),
                     unnest(range(1, len(toks) + 1)) AS t(i)),
    mk AS (SELECT doc_id, pos, tok,
                  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                       || CAST(pos AS VARCHAR)), 1, 8)
                            < '0ccccccc' THEN 1 ELSE 0 END AS start
           FROM tk),
    cv AS (SELECT *, MAX(start) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
           FROM mk),
    rn AS (SELECT *, CASE WHEN m = 1 AND COALESCE(
                       lag(m) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
                     THEN 1 ELSE 0 END AS run_start
           FROM cv),
    sn AS (SELECT *, SUM(run_start) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sent
           FROM rn)
    SELECT doc_id,
      COALESCE(string_agg(CASE WHEN m = 0 THEN tok
                     WHEN run_start = 1
                     THEN '<extra_id_' || CAST(sent - 1 AS VARCHAR) || '>'
                END, ' ' ORDER BY pos), '') AS input_text,
      COALESCE(string_agg(CASE WHEN m = 1 THEN
                     CASE WHEN run_start = 1
                          THEN '<extra_id_' || CAST(sent - 1 AS VARCHAR)
                               || '> ' || tok
                          ELSE tok END
                END, ' ' ORDER BY pos), '') AS target_text,
      count(*) AS n_tokens,
      CAST(sum(m) AS BIGINT) AS n_masked
    FROM sn GROUP BY doc_id
"""


@query("span_corruption", oracle=_SPANC_ORACLE)
def span_corruption_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption prep (mask_frac=0.15, span_len=3). See
    operators/curation.py::span_corruption."""
    from parsedmarc_go_spark.operators.curation import span_corruption

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return span_corruption(docs, mask_frac=0.15, span_len=3)


# BM25 gate (round 9, Robertson & Zaragoza 2009): a 4-token phrase is
# planted on the doc_id % 4 == 1 class and the corpus ranked against
# its terms (+ one absent term, exercising the df=0 path by omission).
# idf and each term-contribution are grid-quantized before the integer
# per-doc sum (registry rule); the k1+1 factor is written (1.2 + 1.0)
# in SQL so both engines compute the identical IEEE double. Born
# demoted: explode/count/broadcast-probe machinery in-window via
# decontaminate_ngram + text_tfidf_topk + the a-family; pytest
# value-checks it at two SFs.
_BM25_ORACLE = """
    WITH base AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 1
                THEN text || ' alpha bravo alpha needle' ELSE text END AS text
           FROM documents),
    tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
           FROM base),
    lens AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
    st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len
           FROM lens),
    hits AS (SELECT doc_id, term, count(*) AS tf FROM tk
             WHERE term IN ('alpha', 'bravo', 'needle', 'zz_absent_term')
             GROUP BY doc_id, term),
    dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
    idf AS (SELECT term,
            CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                          / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                       * 10000.0 + 0.5) AS BIGINT) AS idf_fp,
            n_docs, total_len
            FROM dfc CROSS JOIN st),
    sc AS (SELECT h.doc_id,
            CAST(floor((CAST(i.idf_fp AS DOUBLE) / 10000.0)
                 * (CAST(h.tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(h.tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                             / (CAST(i.total_len AS DOUBLE)
                                / CAST(i.n_docs AS DOUBLE))))
                 * 10000.0 + 0.5) AS BIGINT) AS c_fp
           FROM hits h JOIN idf i ON h.term = i.term
                JOIN lens l ON h.doc_id = l.doc_id)
    SELECT doc_id, count(*) AS n_terms_matched,
           CAST(SUM(c_fp) AS DOUBLE) / 10000.0 AS score
    FROM sc GROUP BY doc_id
"""


@query("text_bm25_rank", oracle=_BM25_ORACLE)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking against a planted 3-term query. See
    operators/retrieval.py::bm25_score."""
    from parsedmarc_go_spark.operators.retrieval import bm25_score

    docs = load(spark, sf_dir, "documents")
    itext = F.when(
        F.col("doc_id") % 4 == 1,
        F.concat(F.col("text"), F.lit(" alpha bravo alpha needle")),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", itext.alias("text"))
    return bm25_score(t, ["alpha", "bravo", "needle", "zz_absent_term"])


# URL-level dedup gate (round 9): the FIRST dedup stage of a crawl
# pipeline (RefinedWeb §3.2 runs URL dedup before any content pass) —
# group the planted messy URLs by their canonical form, keep the
# smallest doc_id, count the collapse. The %3==2 class is identical
# within each doc_id%7 bucket, so real multi-doc groups exist at every
# SF. Born demoted: canonical_url is hash-checked by url_canonicalize's
# sibling argument (pii machinery in-window) and the keep-min groupBy
# by dedup_exact (in-window); pytest value-checks it at two SFs.
_URL_DEDUP_ORACLE = _URL_CANON_CTES + """
    , c AS (SELECT doc_id,
                   lowpre || path || CASE WHEN sorted_q = '' THEN ''
                                          ELSE '?' || sorted_q END AS canon_url
            FROM f)
    SELECT canon_url, CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS dup_count
    FROM c GROUP BY canon_url
"""


@query("dedup_url_canonical", oracle=_URL_DEDUP_ORACLE)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: canonical form → keep-first, one digest-style
    hash aggregate (the dedup_exact shape keyed on the canonical
    string). Uses the url_canonicalize gate's planted messy URLs so
    cross-doc collapses exist at every SF."""
    from parsedmarc_go_spark.operators.curation import canonical_url

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    url = (
        F.when(
            (d % 3) == 0,
            F.concat(
                F.lit("HTTP://Example"), (d % 7).cast("string"),
                F.lit(".COM:80/p/"), ds, F.lit("?z=9&utm_source=f&a=1#frag"),
            ),
        )
        .when(
            (d % 3) == 1,
            F.concat(
                F.lit("https://Sub.Example"), (d % 7).cast("string"),
                F.lit(".com:443/q/"), ds,
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://example"), (d % 7).cast("string"),
                F.lit(".com:8080/r?gclid=x&b=2&a=10"),
            )
        )
    )
    t = docs.select("doc_id", canonical_url(url).alias("canon_url"))
    return t.groupBy("canon_url").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count")
    )


# Vocab-builder gate (round 9): top-200 corpus tokens by (count desc,
# token) with 0-based rank ids. Born demoted: token explode/count by
# text_tfidf_topk (in-window), ordered-limit by a7; the rank window
# input is the bounded 200-row frame. pytest value-checks it at two
# SFs.
_VOCAB_SIZE = 200
_VOCAB_ORACLE = f"""
    WITH tk AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents),
    c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
    t AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT {_VOCAB_SIZE})
    SELECT token, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) - 1
             AS token_id
    FROM t
"""


@query("vocab_top_tokens", oracle=_VOCAB_ORACLE)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 frequency vocabulary with rank ids. See
    operators/retrieval.py::build_vocab."""
    from parsedmarc_go_spark.operators.retrieval import build_vocab

    return build_vocab(load(spark, sf_dir, "documents"), size=_VOCAB_SIZE)


# Corpus-report gate (round 9): the one-row corpus-health summary a
# pipeline run publishes — sizes, exact-dup rate (distinct normalized
# fingerprints), language/source cardinalities. Pure exact-integer
# aggregation; the two fractions are single divisions of exact ints.
# Born demoted: every piece is a-family machinery hash-checked
# in-window (a9 exact distinct, a14 multi-agg summary); pytest
# value-checks it at two SFs.
_REPORT_ORACLE = """
    WITH t AS (SELECT doc_id, lang, source, n_chars,
                      len(string_split(lower(text), ' ')) AS n_tokens,
                      sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                        AS fp
               FROM documents)
    SELECT count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT fp) AS n_distinct_docs,
           CAST(count(*) - count(DISTINCT fp) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS dup_doc_frac,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources
    FROM t
"""


@query("corpus_report", oracle=_REPORT_ORACLE)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus health report: sizes, exact-dup rate, language
    and source cardinalities — the summary a curation run publishes."""
    from parsedmarc_go_spark.functions.text import normalized_text

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        F.sha2(normalized_text("text"), 256).alias("fp"),
    )
    return t.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("fp").alias("n_distinct_docs"),
        (
            (F.count("*") - F.countDistinct("fp")).cast("double")
            / F.count("*").cast("double")
        ).alias("dup_doc_frac"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )


# BPE tokenizer-training gates (round 10, VERDICT r9 task 4 — Sennrich
# 2016, public). The iteration itself is not SQL-expressible (each
# round's merge rewrites the symbol arrays the next round counts), so
# the oracle strategy splits per the verdict's instruction:
#   - vocab_bpe_pairs: the ROUND-1 pair-count table IS plain SQL —
#     full value oracle over the top-50 adjacent symbol pairs with the
#     training tie-break order materialized as a rank column.
#   - vocab_bpe_merges: the learned merge table — rows-only in the
#     driver (deterministic: total-order tie-breaks each round);
#     value-pinned against a pure-Python Sennrich reference at two SFs
#     in tests/test_bpe.py.
# Char-split parity was verified empirically: Spark split(w, '') and
# DuckDB w[i:i] agree including multibyte chars.
_BPE_PAIRS_K = 50
_BPE_PAIRS_ORACLE = f"""
    WITH tk AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents),
    words AS (SELECT w, COUNT(*) AS freq FROM tk WHERE w <> '' GROUP BY w),
    syms AS (SELECT freq,
                    list_append(list_transform(generate_series(1, length(w)),
                                               i -> w[i:i]), '</w>') AS s
             FROM words),
    ex AS (SELECT freq, unnest(generate_series(1, len(s) - 1)) AS i, s
           FROM syms),
    p AS (SELECT s[i] AS a, s[i + 1] AS b,
                 CAST(SUM(freq) AS BIGINT) AS cnt
          FROM ex GROUP BY 1, 2),
    t AS (SELECT a, b, cnt FROM p ORDER BY cnt DESC, a, b LIMIT {_BPE_PAIRS_K})
    SELECT a, b, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rank
    FROM t
"""


@query("vocab_bpe_pairs", oracle=_BPE_PAIRS_ORACLE)
def vocab_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training round 1: the frequency-weighted adjacent
    symbol-pair counts over the corpus word table, top-50 in training
    order. See operators/bpe.py::symbol_pair_counts."""
    from pyspark.sql import Window

    from parsedmarc_go_spark.operators.bpe import (
        _initial_symbols,
        symbol_pair_counts,
        word_freqs,
    )

    frame = word_freqs(
        load(spark, sf_dir, "documents")
    ).withColumn("syms", _initial_symbols())
    top = (
        symbol_pair_counts(frame)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(_BPE_PAIRS_K)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@query("vocab_bpe_merges")
def vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table (8 rounds over the documents
    corpus): ``step, a, b, cnt`` in training order. Deterministic —
    every round's winner carries a (count desc, pair asc) total-order
    tie-break. See operators/bpe.py::bpe_train."""
    from parsedmarc_go_spark.operators.bpe import bpe_train

    merges, _ = bpe_train(load(spark, sf_dir, "documents"), n_merges=8)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "step int, a string, b string, cnt bigint",
    )


# Max-munch subword encoding gate (round 10, Schuster & Nakajima 2012
# — the WordPiece inference rule). Vocab both engines derive
# identically in-query: the top-30 corpus tokens (count desc, token
# tie-break) UNION the corpus's distinct [a-z0-9] single chars; the
# doc_id % 11 == 3 class gets a planted ' zz#q' token whose '#' is in
# no vocab piece, exercising the whole-word [UNK] path. Probe lengths
# 8..1 in BOTH engines (pieces longer than 8 never match, by
# contract). The oracle segments each DISTINCT word with a recursive
# CTE mirroring the greedy loop, then re-assembles per document in
# position order. Born demoted: the explode/count/limit vocab build is
# text_tfidf_topk + a7 machinery, the per-doc ordered re-assembly is
# span_corruption's (rotatable in-window); pytest value-checks the
# composed gate at two SFs.
_MAXMUNCH_ARMS = "\n".join(
    f"            CASE WHEN p + {l - 1} <= length(w) AND substr(w, p, {l})"
    f" IN (SELECT token FROM vocab) THEN substr(w, p, {l}) END,"
    for l in range(8, 1, -1)
)
_MAXMUNCH_ORACLE = f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, CASE WHEN doc_id % 11 = 3 THEN text || ' zz#q'
                          ELSE text END AS text
      FROM documents),
    wp AS (SELECT doc_id, i AS pos, toks[i] AS w
           FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM base),
                unnest(range(1, len(toks) + 1)) AS t(i)
           WHERE toks[i] <> ''),
    tk AS (SELECT w AS token, count(*) AS cnt FROM wp GROUP BY w),
    top30 AS (SELECT token FROM tk ORDER BY cnt DESC, token LIMIT 30),
    chars AS (SELECT DISTINCT substr(w, i, 1) AS token
              FROM (SELECT DISTINCT w FROM wp),
                   unnest(range(1, length(w) + 1)) AS t(i)
              WHERE substr(w, i, 1) BETWEEN 'a' AND 'z'
                 OR substr(w, i, 1) BETWEEN '0' AND '9'),
    vocab AS (SELECT token FROM top30 UNION SELECT token FROM chars),
    dw AS (SELECT DISTINCT w FROM wp),
    seg AS (
      SELECT w, 1 AS p, CAST([] AS VARCHAR[]) AS toks, false AS failed
      FROM dw
      UNION ALL
      SELECT w,
        CASE WHEN piece IS NULL THEN p ELSE p + length(piece) END,
        CASE WHEN piece IS NULL THEN toks
             ELSE list_append(toks, piece) END,
        piece IS NULL
      FROM (
        SELECT w, p, toks,
          COALESCE(
{_MAXMUNCH_ARMS}
            CASE WHEN substr(w, p, 1) IN (SELECT token FROM vocab)
                 THEN substr(w, p, 1) END) AS piece
        FROM seg WHERE NOT failed AND p <= length(w)) s),
    term AS (SELECT w, toks, failed FROM seg
             WHERE failed OR p > length(w))
    SELECT wp.doc_id,
           string_agg(CASE WHEN t.failed THEN '[UNK]'
                           ELSE array_to_string(t.toks, ' ') END,
                      ' ' ORDER BY wp.pos) AS pieces_str,
           CAST(SUM(CASE WHEN t.failed THEN 1 ELSE len(t.toks) END)
                AS BIGINT) AS n_pieces,
           CAST(SUM(CASE WHEN t.failed THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unk
    FROM wp JOIN term t ON wp.w = t.w
    GROUP BY wp.doc_id
"""


@query("tokenize_maxmunch", oracle=_MAXMUNCH_ORACLE)
def tokenize_maxmunch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match subword encoding of the corpus against an
    in-query vocab (top-30 tokens + single chars), with a planted
    un-encodable token driving the [UNK] path. See
    operators/bpe.py::maxmunch_encode."""
    from parsedmarc_go_spark.operators.bpe import maxmunch_encode

    from parsedmarc_go_spark.tables import spread_scan

    docs = load(spark, sf_dir, "documents")
    itext = F.when(
        F.col("doc_id") % 11 == 3, F.concat(F.col("text"), F.lit(" zz#q"))
    ).otherwise(F.col("text"))
    # spread the raw text first: the vocab build below explodes the
    # corpus twice (token counts + the char alphabet) and would
    # otherwise run the whole CPU-heavy pipeline at the scan's
    # partition count (2 at sf1)
    t = spread_scan(docs.select("doc_id", itext.alias("text")), "doc_id")
    toks = t.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    top30 = (
        counts.orderBy(F.desc("cnt"), F.asc("token")).limit(30).select("token")
    )
    # the corpus alphabet == the DISTINCT-token alphabet, so explode
    # characters off the token-count table (vocabulary-sized) instead
    # of a second full-corpus explode — one corpus scan for the whole
    # vocab build, at any scale
    chars = (
        counts.select(F.explode(F.split(F.col("token"), "")).alias("token"))
        .filter(F.col("token").rlike("^[a-z0-9]$"))
        .distinct()
    )
    # (Round-18 measured and REJECTED eager probe-length pruning here:
    # persisting the count table and collecting the vocab's realized
    # piece-length set cost two serial driver jobs that concurrency
    # otherwise hides — gate wall 1.29 → 1.91 s at sf0.1 — to shrink a
    # DP that runs over only the distinct-word table. The operator
    # keeps the probe_lengths hook for callers with a STATICALLY known
    # vocabulary length set.)
    enc = maxmunch_encode(t, top30.union(chars).distinct(), max_piece_len=8)
    return enc.select(
        "doc_id",
        F.array_join("pieces", " ").alias("pieces_str"),
        F.col("n_pieces").cast("long").alias("n_pieces"),
        F.col("n_unk").cast("long").alias("n_unk"),
    )


# Unigram-LM tokenizer gates (round 10, Kudo 2018 — the SentencePiece
# unigram model as aggregation-shaped hard-EM; operators/unigram.py).
# The EM loop is iterative (each round's Viterbi counts feed the next
# round's piece table), so the oracle strategy mirrors the BPE pair:
#   - vocab_unigram_seed: the seed candidate table IS plain SQL —
#     substring explode + frequency-weighted counts, top-N with the
#     training tie-break, single chars always kept.
#   - vocab_unigram_pieces: the trained table — rows-only in the
#     driver; value-pinned against a pure-Python hard-EM reference at
#     two fixture shapes in tests/test_unigram.py.
_UNIGRAM_SEED_N = 200
_UNIGRAM_SEED_ORACLE = f"""
    WITH tk AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents),
    words AS (SELECT w, count(*) AS freq FROM tk WHERE w <> '' GROUP BY w),
    subs AS (SELECT substr(w, i, l) AS piece, freq
             FROM words,
                  unnest(range(1, length(w) + 1)) AS t(i),
                  unnest(range(1, 7)) AS u(l)
             WHERE i + l - 1 <= length(w)),
    counts AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
               FROM subs GROUP BY piece),
    top AS (SELECT piece, cnt FROM counts
            ORDER BY cnt DESC, piece LIMIT {_UNIGRAM_SEED_N}),
    chars AS (SELECT piece, cnt FROM counts WHERE length(piece) = 1)
    SELECT piece, CAST(max(cnt) AS BIGINT) AS cnt
    FROM (SELECT * FROM top UNION ALL SELECT * FROM chars)
    GROUP BY piece
"""


@query("vocab_unigram_seed", oracle=_UNIGRAM_SEED_ORACLE)
def vocab_unigram_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram training's seed candidate table: every 1..6-char
    substring of every corpus word, frequency-weighted, top-200 with
    single chars always kept. See operators/unigram.py::unigram_seed."""
    from parsedmarc_go_spark.operators.unigram import unigram_seed

    return unigram_seed(
        load(spark, sf_dir, "documents"),
        seed_size=_UNIGRAM_SEED_N,
        max_piece_len=6,
    )


@query("vocab_unigram_pieces")
def vocab_unigram_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained unigram piece table (2 hard-EM rounds, vocab 96
    over a 256-piece seed): ``piece, cnt, logp_fp``. Rows-only — the
    EM loop runs Spark jobs per round; determinism + exact parity with
    a pure-Python reference are pinned in tests/test_unigram.py."""
    from parsedmarc_go_spark.operators.unigram import unigram_train

    return unigram_train(
        load(spark, sf_dir, "documents"),
        vocab_size=96,
        seed_size=256,
        max_piece_len=4,
        n_iters=2,
    )


# Corpus snapshot diff (round 10): the recurring-pipeline ops view —
# old = the %5!=0 docs unmutated, new = the %4!=0 docs with the
# %7==3 class's text edited, so every status class (added: %5==0 ∧
# %4!=0, removed: %4==0 ∧ %5!=0, modified: %7==3 in both, unchanged)
# is populated at every SF. Counts + integer char sums — engine-exact.
_DELTA_ORACLE = """
    WITH old AS (SELECT doc_id, text, source FROM documents
                 WHERE doc_id % 5 <> 0),
    new AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 3 THEN text || ' edited'
                        ELSE text END AS text,
                   source
            FROM documents WHERE doc_id % 4 <> 0),
    j AS (SELECT COALESCE(n.source, o.source) AS source,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN o.text <> n.text THEN 'modified'
                      ELSE 'unchanged' END AS status,
                 COALESCE(length(n.text), 0)
                   - COALESCE(length(o.text), 0) AS delta
          FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
    SELECT source,
           CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN status = 'modified' THEN 1 ELSE 0 END) AS BIGINT) AS n_modified,
           CAST(SUM(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
           CAST(SUM(delta) AS BIGINT) AS net_char_delta
    FROM j GROUP BY source
"""


@query("corpus_delta_report", oracle=_DELTA_ORACLE)
def corpus_delta_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two derived corpus versions, per source.
    See operators/curation.py::corpus_delta."""
    from parsedmarc_go_spark.operators.curation import corpus_delta

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "text", "source"
    )
    new = docs.filter(F.col("doc_id") % 4 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" edited"))
        ).otherwise(F.col("text")).alias("text"),
        "source",
    )
    return corpus_delta(old, new)


# Interpolated Kneser-Ney bigram scoring gate (round 10 — Kneser & Ney
# 1995 / Chen & Goodman 1998, public). Same reference slice and pair
# machinery as quality_lm_score; the smoothing is the real thing:
# absolute discounting with the continuation-count backoff (add-one
# smoothed over v+1 types so OOV pairs keep positive mass). The
# per-pair arithmetic before the 1e-4 quantization is +,*,/ on
# identical doubles — engine-exact, the quality_lm_score precedent.
_KN_ORACLE = """
    WITH ref AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                 FROM documents WHERE doc_id % 10 = 0),
    rp AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
           FROM ref, unnest(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
    bg AS (SELECT w1, w2, count(*) AS c12 FROM rp GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   count(*) AS n1p_fwd
            FROM bg GROUP BY w1),
    cont AS (SELECT w2, count(*) AS n1p_bwd FROM bg GROUP BY w2),
    tot AS (SELECT (SELECT count(*) FROM bg) AS n_types,
                   (SELECT count(DISTINCT tok)
                    FROM (SELECT unnest(toks) AS tok FROM ref)) AS v),
    cd AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents),
    cp AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
           FROM cd, unnest(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2),
    sc AS (SELECT cp.doc_id,
             CAST(floor(ln(
               CASE WHEN COALESCE(ctx.c1, 0) > 0 THEN
                 GREATEST(CAST(COALESCE(bg.c12, 0) AS DOUBLE) - 0.75, 0.0)
                   / CAST(COALESCE(ctx.c1, 0) AS DOUBLE)
                 + 0.75 * CAST(COALESCE(ctx.n1p_fwd, 0) AS DOUBLE)
                   / CAST(COALESCE(ctx.c1, 0) AS DOUBLE)
                   * ((CAST(COALESCE(cont.n1p_bwd, 0) AS DOUBLE) + 1.0)
                      / (CAST(tot.n_types AS DOUBLE)
                         + CAST(tot.v AS DOUBLE) + 1.0))
               ELSE
                 (CAST(COALESCE(cont.n1p_bwd, 0) AS DOUBLE) + 1.0)
                   / (CAST(tot.n_types AS DOUBLE)
                      + CAST(tot.v AS DOUBLE) + 1.0)
               END) * 10000.0 + 0.5) AS BIGINT) AS lp_fp
           FROM cp LEFT JOIN bg ON cp.w1 = bg.w1 AND cp.w2 = bg.w2
                   LEFT JOIN ctx ON cp.w1 = ctx.w1
                   LEFT JOIN cont ON cp.w2 = cont.w2
                   CROSS JOIN tot),
    pd AS (SELECT doc_id, count(*) AS n_bigrams,
                  -(CAST(SUM(lp_fp) AS DOUBLE) / 10000.0)
                    / CAST(count(*) AS DOUBLE) AS kn_nll
           FROM sc GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(pd.n_bigrams, 0) AS n_bigrams, pd.kn_nll
    FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
"""


@query("quality_kn_score", oracle=_KN_ORACLE)
def quality_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram quality scoring: the standard LM
    smoothing (continuation-count backoff) on the quality_lm_score
    pipeline shape. See operators/lm.py::kn_score."""
    from parsedmarc_go_spark.operators.lm import kn_score, train_kn_bigram_lm

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 10 == 0)
    bigrams, contexts, continuations, totals = train_kn_bigram_lm(ref)
    return kn_score(docs, bigrams, contexts, continuations, totals)


# ---------------------------------------------------------------------------
# The composed curation pipeline (round 12): one gate that runs the
# END-TO-END pretraining workflow — quality filter → exact dedup →
# benchmark decontamination → MinHash near-dup removal → per-source
# budget sample — and value-checks EVERY document's fate against one
# oracle. (Decontamination precedes near-dup: the benchmark probe is
# a cheap broadcast join, and the quote-carrying docs it removes are
# exactly the ones whose shared token runs make the near-dup stage —
# and its Σdf² SQL oracle — hot; with the old order the sf1 oracle
# spilled past 70 GB of DuckDB temp on the planted phrase shingles.) The raw synthetic corpus has no exact duplicates, so the
# gate plants (identically on both engines, the _containment_corpus /
# PII-injection precedent):
#   doc_id % 50 == 0  → held-out benchmark docs, each tagged with ONE
#                       of 8 eval-phrase variants ('e<k>0 … e<k>7',
#                       k = (doc_id // 50) % 8 — all 8 variants are
#                       covered by the first ten bench docs, so
#                       coverage holds at every SF);
#   doc_id % 10 == 1  → one fixed 60-token boilerplate (passes every
#                       Gopher rule: 3.83 mean word len, distinct
#                       bigrams) → exact-dup class, min id survives;
#   doc_id % 10 == 2  → near-dup pairs: 60 shared tokens
#                       'w(100+(block%15)*60+i)' plus one
#                       distinguishing token ua/ub. The 15 token
#                       classes are PERFECTLY DISJOINT, so same-class
#                       docs with the same ua/ub tag are EXACT dups
#                       (the exact stage collapses them to one ua and
#                       one ub keeper per class — bounded at every SF)
#                       and the surviving pair has shingle Jaccard
#                       57/61 ≈ 0.934. A draft used (block*61+i)%900,
#                       whose 60-value windows overlap 59/60 for
#                       blocks 59 apart — a quadratic near-dup blowup
#                       from sf0.1 up (126k pairs);
#   doc_id % 10 == 3  → eval-phrase variant (doc_id // 10) % 8
#                       appended → a guaranteed shared 8-gram with the
#                       bench docs carrying that variant. Variants
#                       exist because ONE global phrase made every
#                       class-3 doc collide in the same MinHash
#                       buckets (4M candidate pairs at sf1 for 399
#                       true pairs); 1/8 of the docs per variant keeps
#                       the verify fan-in bounded without touching
#                       recall. The key is (doc_id // 10) % 8, NOT
#                       doc_id % 8 (ADVICE r12): class-3 ids are
#                       10m+3 — odd — so doc_id % 8 only ever hits
#                       {1,3,5,7} (four variants at 1/4 density, even
#                       variants never planted), while doc_id // 10
#                       spans every residue;
#   otherwise         → the document's own text (organic quality fails,
#                       near-dup pairs, and incidental 8-gram overlaps
#                       stay in — both engines see the same ones).
_PIPELINE_BOILER = " ".join(f"q{i}a" for i in range(60))

_PIPELINE_ORACLE = f"""
    WITH it AS MATERIALIZED (
      SELECT doc_id, source, n_chars,
        CASE
          WHEN doc_id % 50 = 0 THEN text || ' ' ||
            array_to_string(list_transform(range(0, 8),
              i -> 'e' || CAST((doc_id // 50) % 8 AS VARCHAR) || CAST(i AS VARCHAR)), ' ')
          WHEN doc_id % 10 = 1 THEN '{_PIPELINE_BOILER}'
          WHEN doc_id % 10 = 2 THEN
            array_to_string(list_transform(range(0, 60),
              i -> 'w' || CAST(100 + ((doc_id // 20) % 15) * 60 + i AS VARCHAR)), ' ')
            || CASE WHEN doc_id % 20 = 2 THEN ' ua' ELSE ' ub' END
          WHEN doc_id % 10 = 3 THEN text || ' ' ||
            array_to_string(list_transform(range(0, 8),
              i -> 'e' || CAST((doc_id // 10) % 8 AS VARCHAR) || CAST(i AS VARCHAR)), ' ')
          ELSE text
        END AS text
      FROM documents),
    corp AS MATERIALIZED (SELECT * FROM it WHERE doc_id % 50 <> 0),
    bench AS MATERIALIZED (SELECT * FROM it WHERE doc_id % 50 = 0),
    t1 AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corp),
    s AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) AS mean_word_len,
            CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) AS alpha_word_frac,
            toks
          FROM t1),
    tb AS (SELECT doc_id,
           CASE WHEN len(toks) < 2 THEN [] ELSE
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
           END AS bigrams
           FROM s),
    big AS (SELECT doc_id, unnest(bigrams) AS b FROM tb),
    bc AS (SELECT doc_id, b, count(*) AS c FROM big GROUP BY doc_id, b),
    bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, max(c) AS top_bc
           FROM bc GROUP BY doc_id),
    qual AS MATERIALIZED (SELECT s.doc_id,
               CASE WHEN n_tokens < 50 OR n_tokens > 100000 THEN 'word_count'
                    WHEN mean_word_len < 3.0 OR mean_word_len > 4.5 THEN 'mean_word_len'
                    WHEN alpha_word_frac < 0.8 THEN 'alpha_words'
                    WHEN CAST(top_bc AS DOUBLE) / CAST(nb AS DOUBLE) > 0.2
                      THEN 'repetition'
                    ELSE NULL END AS fail_reason
             FROM s LEFT JOIN bs ON s.doc_id = bs.doc_id),
    s1 AS MATERIALIZED (SELECT c.* FROM corp c JOIN qual q USING (doc_id)
           WHERE q.fail_reason IS NULL),
    fp AS MATERIALIZED (SELECT doc_id,
             sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
           FROM s1),
    fw AS MATERIALIZED (SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY 1),
    exd AS MATERIALIZED (SELECT fp.doc_id FROM fp JOIN fw USING (f)
            WHERE fp.doc_id <> fw.keep_id),
    s2 AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM exd)),
    g3 AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM s2),
    cg AS (SELECT doc_id,
             unnest(CASE WHEN len(toks) < 8 THEN [] ELSE
               list_distinct(list_transform(range(1, len(toks) - 6),
                                            i -> array_to_string(toks[i:i+7], ' ')))
             END) AS ng
           FROM g3),
    bt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM bench),
    ev AS (SELECT DISTINCT
             unnest(CASE WHEN len(toks) < 8 THEN [] ELSE
               list_distinct(list_transform(range(1, len(toks) - 6),
                                            i -> array_to_string(toks[i:i+7], ' ')))
             END) AS ng
           FROM bt),
    cont AS MATERIALIZED (SELECT DISTINCT cg.doc_id FROM cg JOIN ev USING (ng)),
    s3 AS MATERIALIZED (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
    d2 AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM s3),
    sh AS (SELECT doc_id AS doc,
             unnest(list_distinct(CASE WHEN len(toks) >= 3
               THEN list_transform(generate_series(1, len(toks) - 2),
                                   i -> array_to_string(toks[i:i+2], ' '))
               ELSE [] END)) AS shingle
           FROM d2),
    nsh AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY 1),
    pp AS (SELECT a.doc AS da, b.doc AS db, COUNT(*) AS shared
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
           GROUP BY 1, 2),
    near AS MATERIALIZED (SELECT DISTINCT pp.db AS doc_id
             FROM pp JOIN nsh na ON pp.da = na.doc JOIN nsh nb ON pp.db = nb.doc
             WHERE CAST(pp.shared AS DOUBLE)
                     / CAST(na.n + nb.n - pp.shared AS DOUBLE) >= 0.7),
    s4 AS MATERIALIZED (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM near)),
    r AS MATERIALIZED (SELECT doc_id, source, n_chars,
            CAST(sum(n_chars) OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
            row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM s4),
    kept AS MATERIALIZED (SELECT doc_id FROM r WHERE cum <= 2000 OR rn <= 1)
    SELECT doc_id, fate FROM (
      SELECT doc_id, 'heldout' AS fate FROM bench
      UNION ALL SELECT doc_id, 'quality:' || fail_reason AS fate
                FROM qual WHERE fail_reason IS NOT NULL
      UNION ALL SELECT doc_id, 'exact_dup' AS fate FROM exd
      UNION ALL SELECT doc_id, 'contaminated' AS fate FROM cont
      UNION ALL SELECT doc_id, 'near_dup' AS fate FROM near
      UNION ALL SELECT doc_id, 'over_budget' AS fate FROM s4
                WHERE doc_id NOT IN (SELECT doc_id FROM kept)
      UNION ALL SELECT doc_id, 'kept' AS fate FROM kept
    )
"""


def _pipeline_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted pipeline corpus (see the block comment above
    _PIPELINE_ORACLE) — both engines derive the identical text from
    doc_id, so every fate class is populated at every SF."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def phrase(k_sql: str):
        return F.expr(
            "array_join(transform(sequence(0, 7), "
            f"i -> concat('e', cast({k_sql} as string), cast(i as string))), ' ')"
        )

    nd_tokens = F.expr(
        "array_join(transform(sequence(0, 59), "
        "i -> concat('w', cast(100 + ((doc_id div 20) % 15) * 60 + i as string))), ' ')"
    )
    itext = (
        F.when(d % 50 == 0, F.concat(F.col("text"), F.lit(" "), phrase("(doc_id div 50) % 8")))
        .when(d % 10 == 1, F.lit(_PIPELINE_BOILER))
        .when(
            d % 10 == 2,
            F.concat(
                nd_tokens,
                F.when(d % 20 == 2, F.lit(" ua")).otherwise(F.lit(" ub")),
            ),
        )
        .when(d % 10 == 3, F.concat(F.col("text"), F.lit(" "), phrase("(doc_id div 10) % 8")))
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", "source", "n_chars", itext.alias("text"))


@query("curation_pipeline", oracle=_PIPELINE_ORACLE)
def curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation: the five-stage composition a real
    pretraining run executes, with every document's fate value-checked
    (operators/curation.py::curation_pipeline). Quality thresholds
    match the gopher gate's tightened 4.5 mean-word-len so organic
    fails stay exercised; budget 2000 chars/source cuts inside every
    SF's per-source survivor mass."""
    from parsedmarc_go_spark.operators.curation import curation_pipeline

    t = _pipeline_corpus(spark, sf_dir)
    bench = t.filter(F.col("doc_id") % 50 == 0)
    corpus = t.filter(F.col("doc_id") % 50 != 0)
    fates = curation_pipeline(
        corpus,
        bench,
        budget=2000,
        quality_thresholds={"max_mean_word_len": 4.5},
    )
    return fates.unionByName(
        bench.select("doc_id", F.lit("heldout").alias("fate"))
    )


def curation_pipeline_stage_walls(spark: SparkSession, sf_dir: str) -> dict:
    """One instrumented run of the curation_pipeline gate returning
    per-stage boundary walls (VERDICT r15 task 3) — bench.py stamps
    this into the artifact so the composition's cost is attributable
    per stage, not just as one gate number. Mirrors curation_pipeline_q
    exactly (same corpus, thresholds, budget) plus the stage_walls
    hook; '__union_collect' is the residual of the final fate-union
    action over the boundary sum."""
    import time as _time

    from parsedmarc_go_spark.operators.curation import curation_pipeline

    t = _pipeline_corpus(spark, sf_dir)
    bench = t.filter(F.col("doc_id") % 50 == 0)
    corpus = t.filter(F.col("doc_id") % 50 != 0)
    walls: dict = {}
    t0 = _time.perf_counter()
    curation_pipeline(
        corpus,
        bench,
        budget=2000,
        quality_thresholds={"max_mean_word_len": 4.5},
        stage_walls=walls,
    ).collect()
    total = round(_time.perf_counter() - t0, 3)
    walls["__union_collect"] = round(total - sum(walls.values()), 3)
    walls["__total"] = total
    return walls


# --- the composed pipeline's streaming + reliable-checkpoint twins ---------
#
# Round 14 (VERDICT r13 tasks 3-4): the driver hash-checks the batch
# composition via `curation_pipeline`; these two gates put the OTHER
# two execution modes a 100 TB run actually uses under the same
# value oracle — the Structured-Streaming twin (incremental state,
# two real micro-batch triggers) and the parquet-checkpoint resume
# path (_SUCCESS-gated read-back, the restartability contract).
#
# The stream gate neutralizes the BUDGET stage (budget = 10^12) and
# oracles against _PIPELINE_ORACLE with the same neutralized cut:
# stream==batch budget parity requires arrival in each stratum's
# md5-hash order, while exact/near-dup parity requires ascending
# doc_id arrival (first-seen == min-id winners) — one split cannot
# satisfy both, and the hash-order budget machinery is already
# value-checked by the batch gate plus pinned cross-trigger in
# tests/test_streaming_curation.py::..._budget_parity_in_hash_order.
# With ascending-id triggers every remaining stage is exactly batch
# (quality/decontam per-doc, exact first-seen == min-id, near-dup
# lower-id-first arrival == drop-higher rule; the residual band
# false-positive/false-negative exposure is the batch gate's own
# ~2e-5 band-miss argument, verified empirically at all three SFs).
_PIPELINE_STREAM_ORACLE = _PIPELINE_ORACLE.replace(
    "cum <= 2000", f"cum <= {10**12}"
)


def _gate_tmpdir(prefix: str) -> str:
    """A session-lifetime scratch dir: the returned DataFrames are
    LAZY parquet scans over it, so cleanup must wait for interpreter
    exit (after the driver's collect), not function return."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


@query("curation_pipeline_stream", oracle=_PIPELINE_STREAM_ORACLE)
def curation_pipeline_stream_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin under the driver's value oracle: two real
    readStream(availableNow) micro-batch triggers over an ascending-
    doc_id split of the planted gate corpus, fates accumulated through
    the persisted exact/near-dup/budget stores
    (streaming/curation.py::stream_curation_pipeline)."""
    import os

    from parsedmarc_go_spark.streaming.curation import (
        PIPELINE_FATES_TABLE,
        stream_curation_pipeline,
    )

    t = _pipeline_corpus(spark, sf_dir)
    bench = t.filter(F.col("doc_id") % 50 == 0)
    corpus = t.filter(F.col("doc_id") % 50 != 0)
    cut = corpus.agg(F.max("doc_id")).collect()[0][0] // 2 + 1

    root = _gate_tmpdir("pipe_stream_gate_")
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    store = os.path.join(root, "store")
    # the stream's near-dup stage verifies cross-trigger collisions
    # with exact Jaccard against the stored shingle sets, so under
    # this ascending-doc_id split its near set is BIT-IDENTICAL to
    # batch's — the value oracle holds the stream to the batch fates
    kw = dict(budget=10**12, quality_thresholds={"max_mean_word_len": 4.5})

    # trigger 1: the low-id shard lands, stream drains it
    corpus.filter(F.col("doc_id") < cut).write.parquet(
        os.path.join(landing, "shard1")
    )
    stream_curation_pipeline(
        spark, landing, out, ckpt, store, bench, **kw
    ).awaitTermination()
    # trigger 2: the high-id shard lands, same checkpoint resumes —
    # only the NEW files form the second micro-batch
    corpus.filter(F.col("doc_id") >= cut).write.parquet(
        os.path.join(landing, "shard2")
    )
    stream_curation_pipeline(
        spark, landing, out, ckpt, store, bench, **kw
    ).awaitTermination()

    fates = spark.read.parquet(os.path.join(out, PIPELINE_FATES_TABLE))
    return fates.select("doc_id", "fate").unionByName(
        bench.select("doc_id", F.lit("heldout").alias("fate"))
    )


@query("curation_pipeline_checkpoint", oracle=_PIPELINE_ORACLE)
def curation_pipeline_checkpoint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELIABLE-checkpoint mode under the driver's value oracle:
    run the composed pipeline with a parquet checkpoint_dir (writes
    every _SUCCESS-gated stage boundary), then run it AGAIN over the
    same directory so the returned frame flows entirely through the
    resume path — manifest validated, every boundary read back, no
    stage recomputed (operators/curation.py::curation_pipeline).
    Hash-equal to the localCheckpoint gate by construction; this gate
    makes the driver prove it."""
    from parsedmarc_go_spark.operators.curation import curation_pipeline

    t = _pipeline_corpus(spark, sf_dir)
    bench = t.filter(F.col("doc_id") % 50 == 0)
    corpus = t.filter(F.col("doc_id") % 50 != 0)
    ckpt = _gate_tmpdir("pipe_ckpt_gate_")
    kw = dict(budget=2000, quality_thresholds={"max_mean_word_len": 4.5})
    # first pass writes the boundaries (eager per-stage writes at build
    # time — no collect needed); second pass is the pure resume read
    curation_pipeline(corpus, bench, checkpoint_dir=ckpt, **kw)
    fates = curation_pipeline(corpus, bench, checkpoint_dir=ckpt, **kw)
    return fates.unionByName(
        bench.select("doc_id", F.lit("heldout").alias("fate"))
    )
