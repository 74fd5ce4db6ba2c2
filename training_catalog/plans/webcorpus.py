"""Raw web-corpus ingestion — the steps a 100 TB crawl pipeline runs
BEFORE the hygiene/dedup family (plans/hygiene.py, plans/training.py),
where the input is raw HTML + URLs, not clean text:

- ``html_extract_text``   : boilerplate strip — script/style/nav/footer
                            block removal, tag strip, HTML-entity decode,
                            whitespace collapse, and the boilerplate
                            ratio real pipelines threshold on
- ``url_canonical_stats`` : URL canonicalization (case-fold scheme/host,
                            default-port strip, fragment drop, utm_*
                            param removal, index.html/trailing-slash
                            normalization) + canonical-URL dedup with
                            keep-first-by-doc_id, rolled up per domain —
                            the FIRST dedup pass every crawl pipeline
                            runs, before any content hashing
- ``mojibake_stats``      : encoding-damage detection and repair
                            (UTF-8-read-as-Latin-1 sequences: Ã©, â€™, …)
                            — the ftfy step, expressed as Catalyst
                            replace chains

The documents corpus is clean word-soup, so each operator SYNTHESIZES
its raw input deterministically from (doc_id, text) — HTML wrapping,
URL assembly, mojibake injection — and the synthesis is mirrored
literally in the DuckDB oracle, so the CORRECTNESS row checks the real
extraction/canonicalization logic (the same construct→process→verify
pattern as pii_redact_docs and the multimodal codec family).

Scale shape: html_extract_text and mojibake_stats are pure per-row
Catalyst expression chains — whole-stage codegen, zero shuffle, scan
pruned to (doc_id) or (doc_id, text).  url_canonical_stats shuffles
once on the canonical URL (content-derived) and once on the domain;
at crawl scale domains are long-tail-skewed, and because the per-domain
aggregates are all algebraic (counts/sums), the map-side partial
aggregation already absorbs the hot domain — no single-task window is
involved (contrast length_bucket_batches, which needed the two-phase
rank).

No reference counterpart (the reference is a GIS ETL); these extend the
engine's training-data family.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .analytics import _t, query
from .oracles import ORACLES

# ---------------------------------------------------------------------------
# HTML boilerplate strip.  Block-element regexes use (?s) DOTALL +
# non-greedy bodies — both the Java regex engine (Spark) and RE2
# (DuckDB) support the inline flag.  Entity decode order matters:
# &amp; decodes LAST so '&amp;lt;' yields '&lt;', not '<'.
# ---------------------------------------------------------------------------

_HTML_BLOCKS = [r"(?s)<script[^>]*>.*?</script>",
                r"(?s)<style[^>]*>.*?</style>",
                r"(?s)<nav[^>]*>.*?</nav>",
                r"(?s)<footer[^>]*>.*?</footer>"]
_TAG = r"<[^>]+>"
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&#39;", "'"), ("&nbsp;", " "), ("&copy;", "(c)"),
             ("&amp;", "&")]            # &amp; LAST


def _html_wrap(did, text):
    """Deterministic raw-HTML synthesis for a (doc_id, text) row."""
    return F.concat(
        F.lit("<html><head><title>doc "), did.cast("string"),
        F.lit("</title><script type=\"text/javascript\">var id="),
        did.cast("string"), F.lit(";track();</script>"),
        F.lit("<style>p { margin: 0; }</style></head><body>"),
        F.lit("<nav><a href=\"/\">home</a> <a href=\"/about\">about"
              "</a></nav><h1>Doc "), did.cast("string"),
        F.lit("</h1>\n<p>"), text, F.lit("</p>\n<p>dept &lt;"),
        F.pmod(did, 10).cast("string"),
        F.lit("&gt; &quot;desk&quot; &#39;hall&#39;&nbsp;room &amp; "
              "wing</p><footer>&copy; site "),
        F.pmod(did, 5).cast("string"),
        F.lit(" &amp; partners</footer></body></html>"))


def extract_html_text(col):
    """The extraction chain: block removal → tag strip → entity decode
    → whitespace collapse.  Pure Catalyst expressions — per-row,
    whole-stage codegen, no Python in the hot path."""
    out = col
    for pat in _HTML_BLOCKS:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, _TAG, " ")
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


@query("html_extract_text")
def html_extract_text(spark, sf_dir):
    """(doc_id, raw_len, clean_len, clean_md5, boilerplate_pm): strip a
    deterministic HTML wrapping back off each document.  boilerplate_pm
    is the removed fraction in exact integer per-mille — the threshold
    column a crawl pipeline filters chrome-heavy pages on."""
    docs = _t(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id", _html_wrap(F.col("doc_id"), F.col("text")).alias("raw"))
    clean = extract_html_text(F.col("raw"))
    return (wrapped
            .select("doc_id",
                    F.length("raw").alias("raw_len"),
                    F.length(clean).alias("clean_len"),
                    F.md5(clean).alias("clean_md5"))
            .withColumn("boilerplate_pm",
                        F.expr("((raw_len - clean_len) * 1000)"
                               " div raw_len")))


def _sql_extract(col: str) -> str:
    """The oracle's mirror of extract_html_text over SQL expression
    text (RE2 'g' flag = Java regex's replace-all default)."""
    out = col
    for pat in _HTML_BLOCKS:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_TAG}', ' ', 'g')"
    for ent, rep in _ENTITIES:
        rep_sql = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{rep_sql}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


ORACLES["html_extract_text"] = f"""
WITH wrapped AS (
  SELECT doc_id,
         '<html><head><title>doc ' || CAST(doc_id AS VARCHAR)
         || '</title><script type="text/javascript">var id='
         || CAST(doc_id AS VARCHAR) || ';track();</script>'
         || '<style>p {{ margin: 0; }}</style></head><body>'
         || '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
         || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10)
         || '<p>' || text || '</p>' || chr(10) || '<p>dept &lt;'
         || CAST(doc_id % 10 AS VARCHAR)
         || '&gt; &quot;desk&quot; &#39;hall&#39;&nbsp;room &amp; wing</p>'
         || '<footer>&copy; site ' || CAST(doc_id % 5 AS VARCHAR)
         || ' &amp; partners</footer></body></html>' AS raw
  FROM documents
), cleaned AS (
  SELECT doc_id, raw, {_sql_extract('raw')} AS clean FROM wrapped
)
SELECT doc_id, len(raw) AS raw_len, len(clean) AS clean_len,
       md5(clean) AS clean_md5,
       ((len(raw) - len(clean)) * 1000) // len(raw) AS boilerplate_pm
FROM cleaned
"""


# ---------------------------------------------------------------------------
# URL canonicalization + first-pass dedup.  The URL string is ASSEMBLED
# with mixed case, default ports, utm_* params, index.html suffixes and
# fragments, then the operator must recover the canonical form by
# PARSING the string (the synthesis parts are never reused directly).
# Small moduli make distinct docs collide on the canonical URL, so the
# keep-first dedup is exercised for real.
# ---------------------------------------------------------------------------


def _url_synth(did):
    scheme = F.when(F.pmod(did, 3) == 0, F.lit("HTTP")) \
        .otherwise(F.lit("https"))
    port = F.when(F.pmod(did, 2) == 0,
                  F.when(F.pmod(did, 3) == 0, F.lit(":80"))
                  .otherwise(F.lit(":443"))).otherwise(F.lit(""))
    tail = F.when(F.pmod(did, 6) == 0, F.lit("/index.html")) \
        .when(F.pmod(did, 5) == 0, F.lit("/")).otherwise(F.lit(""))
    frag = F.when(F.pmod(did, 4) == 0,
                  F.concat(F.lit("#sec"), F.pmod(did, 4).cast("string"))
                  ).otherwise(F.lit(""))
    return F.concat(
        scheme, F.lit("://WWW.Site"), F.pmod(did, 7).cast("string"),
        F.lit(".Example.COM"), port,
        F.lit("/p/"), F.pmod(did, 11).cast("string"), tail,
        F.lit("?utm_source=feed&id="), F.pmod(did, 13).cast("string"),
        F.lit("&utm_campaign=c"), F.pmod(did, 3).cast("string"), frag)


_URL_SQL = """
  CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END
  || '://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
  || CASE WHEN doc_id % 2 = 0
          THEN CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END
          ELSE '' END
  || '/p/' || CAST(doc_id % 11 AS VARCHAR)
  || CASE WHEN doc_id % 6 = 0 THEN '/index.html'
          WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
  || '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR)
  || '&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
  || CASE WHEN doc_id % 4 = 0
          THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END
"""


def canonicalize_url(url):
    """Canonical form of a URL column: case-fold scheme+host, strip the
    scheme's DEFAULT port only, drop the fragment, remove utm_* params
    (and a then-empty '?'), rewrite /index.html → /, strip the trailing
    slash off non-root paths.  Pure Catalyst regexp — per-row."""
    scheme = F.lower(
        F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.when(scheme == "http",
                  F.regexp_replace(hostport, r":80$", "")) \
        .when(scheme == "https",
              F.regexp_replace(hostport, r":443$", "")) \
        .otherwise(hostport)
    path = F.regexp_extract(url, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.regexp_replace(path, r"/index\.html$", "/")
    path = F.regexp_replace(path, r"(.)/$", "$1")
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    qs = F.regexp_replace(
        F.regexp_replace(qs, r"(?:^|&)utm_[^&]*", ""), r"^&+", "")
    return F.concat(scheme, F.lit("://"), host, path,
                    F.when(qs == "", F.lit(""))
                    .otherwise(F.concat(F.lit("?"), qs)))


@query("url_canonical_stats")
def url_canonical_stats(spark, sf_dir):
    """(domain, n_urls, n_canonical, sum_kept_doc_ids): per-domain
    crawl-dedup summary — raw URL count, distinct canonical URLs, and
    the sum of each canonical URL's keep-first (min) doc_id (pinning
    the exact keep decisions without shipping a row per URL).

    Plan: per-row canonicalization → ONE partial-aggregated shuffle on
    (domain, canonical) → map-side-combinable rollup on domain.  Both
    aggregations are algebraic, so a hot domain is absorbed by partial
    aggregation — no per-domain window, no single hot task."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        "doc_id", _url_synth(F.col("doc_id")).alias("url"))
    canon = urls.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("canonical"))
    canon = canon.withColumn(
        "domain", F.regexp_extract("canonical", r"^[a-z]+://([^/:?#]*)", 1))
    per_url = (canon.groupBy("domain", "canonical")
               .agg(F.count("*").alias("n"),
                    F.min("doc_id").alias("kept_doc")))
    return (per_url.groupBy("domain")
            .agg(F.sum("n").alias("n_urls"),
                 F.count("*").alias("n_canonical"),
                 F.sum("kept_doc").alias("sum_kept_doc_ids")))


ORACLES["url_canonical_stats"] = f"""
WITH urls AS (
  SELECT doc_id, {_URL_SQL} AS url FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1))
           AS hostport,
         regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path0,
         regexp_extract(url, '\\?([^#]*)', 1) AS qs0
  FROM urls
), canon0 AS (
  SELECT doc_id, scheme,
         CASE WHEN scheme = 'http'
                THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https'
                THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host,
         regexp_replace(regexp_replace(
             CASE WHEN path0 = '' THEN '/' ELSE path0 END,
             '/index\\.html$', '/'), '(.)/$', '\\1') AS path,
         regexp_replace(regexp_replace(qs0, '(?:^|&)utm_[^&]*', '', 'g'),
                        '^&+', '') AS qs
  FROM parts
), canon AS (
  SELECT doc_id, host AS domain,
         scheme || '://' || host || path
           || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical
  FROM canon0
), per_url AS (
  SELECT domain, canonical, count(*) AS n, min(doc_id) AS kept_doc
  FROM canon GROUP BY 1, 2
)
SELECT domain, CAST(SUM(n) AS BIGINT) AS n_urls,
       count(*) AS n_canonical,
       CAST(SUM(kept_doc) AS BIGINT) AS sum_kept_doc_ids
FROM per_url GROUP BY domain
"""


# ---------------------------------------------------------------------------
# Mojibake (encoding damage) detection + repair.  Classic UTF-8-decoded-
# as-Latin-1 sequences are injected into a deterministic subset of docs,
# then detected and repaired with a literal replace chain (the ftfy
# core move, minus the heuristics no SQL engine can host).  Longer
# sequences repair FIRST so 'â€™' never half-matches a shorter pattern.
# ---------------------------------------------------------------------------

_MOJIBAKE = [("â€™", "’"), ("â€œ", "“"), ("â€", "”"),
             ("â€“", "–"), ("Ã©", "é"), ("Ã¼", "ü"), ("Ã¯", "ï")]
_MOJI_SNIPPET = " cafÃ© naÃ¯ve donâ€™t â€œquotedâ€ â€“ Ã¼ber"


@query("mojibake_stats")
def mojibake_stats(spark, sf_dir):
    """(doc_id, n_moji, is_damaged, fixed_md5, fixed_len): inject a
    mojibake snippet into every 4th document, then detect (pattern
    count), flag, and repair via the literal replace chain.  Per-row
    Catalyst only — the repaired md5 pins every replacement exactly."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    seeded = docs.select(
        "doc_id",
        F.when(F.pmod(did, 4) == 0,
               F.concat(F.col("text"), F.lit(_MOJI_SNIPPET)))
        .otherwise(F.col("text")).alias("text2"))
    n_moji = sum(
        (F.length("text2")
         - F.length(F.replace(F.col("text2"), F.lit(bad), F.lit(""))))
        / F.lit(len(bad)) for bad, _ in _MOJIBAKE).cast("long")
    fixed = F.col("text2")
    for bad, good in _MOJIBAKE:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return seeded.select(
        "doc_id",
        n_moji.alias("n_moji"),
        (n_moji > 0).alias("is_damaged"),
        F.md5(fixed).alias("fixed_md5"),
        F.length(fixed).alias("fixed_len"))


def _moji_fix_sql(col: str) -> str:
    out = col
    for bad, good in _MOJIBAKE:
        out = f"replace({out}, '{bad}', '{good}')"
    return out


ORACLES["mojibake_stats"] = f"""
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || '{_MOJI_SNIPPET}' ELSE text END AS text2
  FROM documents
), counted AS (
  SELECT doc_id, text2,
         {' + '.join(
             f"(len(text2) - len(replace(text2, '{bad}', '')))"
             f" // {len(bad)}" for bad, _ in _MOJIBAKE)} AS n_moji,
         {_moji_fix_sql('text2')} AS fixed
  FROM seeded
)
SELECT doc_id, n_moji, n_moji > 0 AS is_damaged,
       md5(fixed) AS fixed_md5, len(fixed) AS fixed_len
FROM counted
"""


# ---------------------------------------------------------------------------
# Script detection — unicode-range counting (the crawl-side signal that
# routes documents to per-script tokenizers and catches wrong-charset
# pages langid misses).  Counting via length-difference after a
# char-class regexp_replace: per-row Catalyst, no shuffle.  Dominance
# compares LETTER scripts only (digits are script-neutral) with a fixed
# latin > cyrillic > greek > cjk tie order, mirrored in the oracle.
# ---------------------------------------------------------------------------

_SCRIPTS = [("latin", "[A-Za-z]"),
            ("digit", "[0-9]"),
            ("cyrillic", "[Ѐ-ӿ]"),
            ("greek", "[Ͱ-Ͽ]"),
            ("cjk", "[一-鿿]")]


@query("script_stats")
def script_stats(spark, sf_dir):
    """(doc_id, n_latin, n_digit, n_cyrillic, n_greek, n_cjk,
    dominant_script): per-document character counts by unicode script
    range, and the dominant letter script."""
    docs = _t(spark, sf_dir, "documents")
    counts = {name: (F.length("text")
                     - F.length(F.regexp_replace(F.col("text"), pat, "")))
              .cast("long") for name, pat in _SCRIPTS}
    la, cy, gr, cj = (counts["latin"], counts["cyrillic"],
                      counts["greek"], counts["cjk"])
    dom = (F.when((la >= cy) & (la >= gr) & (la >= cj), "latin")
           .when((cy >= gr) & (cy >= cj), "cyrillic")
           .when(gr >= cj, "greek").otherwise("cjk"))
    return docs.select(
        "doc_id",
        *[counts[n].alias(f"n_{n}") for n, _ in _SCRIPTS],
        dom.alias("dominant_script"))


ORACLES["script_stats"] = f"""
WITH c AS (
  SELECT doc_id,
         {", ".join(
             f"len(text) - len(regexp_replace(text, '{pat}', '', 'g'))"
             f" AS n_{name}" for name, pat in _SCRIPTS)}
  FROM documents
)
SELECT doc_id, n_latin, n_digit, n_cyrillic, n_greek, n_cjk,
       CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
                 AND n_latin >= n_cjk THEN 'latin'
            WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk
                 THEN 'cyrillic'
            WHEN n_greek >= n_cjk THEN 'greek'
            ELSE 'cjk' END AS dominant_script
FROM c
"""


# ---------------------------------------------------------------------------
# Language identification — the fastText-style crawl stage (Joulin 2016:
# character-n-gram features, linear model, argmax over languages),
# re-expressed as train → broadcast-model join → integer-score argmax so
# the whole pipeline is closed-form and DuckDB-oracle-checkable:
#
# 1. MODEL: character trigrams of each training doc's first 256 chars
#    (the standard LID practice of scoring a bounded prefix — cost per
#    row is corpus-independent), counted per (lang, ngram) and pruned to
#    the top-200 ngrams per language (count DESC, ngram ASC — fully
#    deterministic).  The pruned model is ≤ langs × 200 rows — always
#    broadcastable; the pre-pruning frame is bounded by the FEATURE
#    space (≤ charset³ rows per language), not the corpus, so the
#    per-language top-K window never sees corpus-scale input.
# 2. SCORE: test-doc trigram occurrences join the broadcast model;
#    score(doc, lang) = Σ model-count over the doc's trigram
#    occurrences — all-integer (no log-prob floats, whose
#    summation-order drift would break the driver's value hash).
# 3. ARGMAX: max(struct(score, lang)) per doc — ties break to the
#    lexicographically larger language, mirrored in the oracle's
#    ORDER BY score DESC, lang DESC.  Docs with no model hit → 'unk'.
#
# Output is the confusion matrix (true lang × predicted lang), the
# routing/quality signal a crawl pipeline actually monitors.  On this
# synthetic corpus every lang shares one vocabulary, so the matrix
# mostly collapses into the majority class — the MACHINERY (model
# build, broadcast scoring, deterministic argmax) is what's under test,
# exactly like the multimodal codec family's deterministic fakes.
# ---------------------------------------------------------------------------

_LID_HEAD = 256       # score a bounded prefix — corpus-independent cost
_LID_N = 3            # character trigrams
_LID_TOPK = 200       # model rows per language (broadcast-sized)
_LID_TRAIN_MOD = 5    # doc_id % 5 == 0 trains; the rest is scored


def _char_trigrams(text_col):
    """Array of character trigrams over the first ``_LID_HEAD`` chars;
    empty below 3 chars.  ``split('')`` → the shared vectorized
    ``zip_ngrams`` idiom (functions/text.py) — its per-index
    ``transform(sequence, i -> substr(head, i, 3))`` predecessor
    measured ~6× slower at the 10× probe (30.7 s vs 13.9 s)."""
    from ..functions.text import zip_ngrams

    head = F.substring(text_col, 1, _LID_HEAD)
    return zip_ngrams(F.split(head, ""), _LID_N,
                      lambda *cs: F.concat(*cs))


@query("lang_id_confusion")
def lang_id_confusion(spark, sf_dir):
    """(true_lang, pred_lang, n_docs): character-trigram language-ID
    confusion matrix — model trained on the doc_id % 5 == 0 split,
    scored over the rest via a broadcast join + integer argmax."""
    from pyspark.sql import Window

    # spread_input: the char-trigram explodes (train + test legs)
    # otherwise run as ONE scan task each on single-row-group bench
    # input (no-op at scale)
    from ..operators.barrier import spread_input

    docs = spread_input(_t(spark, sf_dir, "documents")
                        .select("doc_id", "lang", "text"))
    grams = _char_trigrams(F.col("text")).alias("__grams")

    model_counts = (docs.filter(F.col("doc_id") % _LID_TRAIN_MOD == 0)
                    .select("lang", F.explode(grams).alias("ngram"))
                    .groupBy("lang", "ngram")
                    .agg(F.count("*").alias("cnt")))
    rk = F.row_number().over(
        Window.partitionBy("lang")
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc()))
    model = (model_counts.withColumn("__rk", rk)
             .filter(F.col("__rk") <= _LID_TOPK)
             .select(F.col("lang").alias("cand_lang"), "ngram", "cnt"))

    test = docs.filter(F.col("doc_id") % _LID_TRAIN_MOD != 0)
    scores = (test.select("doc_id", F.explode(grams).alias("ngram"))
              .join(F.broadcast(model), "ngram")
              .groupBy("doc_id", "cand_lang")
              .agg(F.sum("cnt").alias("score")))
    pred = (scores.groupBy("doc_id")
            .agg(F.max(F.struct("score", "cand_lang")).alias("__m"))
            .select("doc_id", F.col("__m.cand_lang").alias("pred_lang")))
    return (test.select("doc_id", F.col("lang").alias("true_lang"))
            .join(pred, "doc_id", "left")
            .groupBy("true_lang",
                     F.coalesce("pred_lang", F.lit("unk"))
                     .alias("pred_lang"))
            .agg(F.count("*").alias("n_docs")))


ORACLES["lang_id_confusion"] = f"""
WITH d AS (
  SELECT doc_id, lang, substr(text, 1, {_LID_HEAD}) AS head
  FROM documents
), g AS (
  SELECT doc_id, lang,
         unnest([substr(head, i, {_LID_N})
                 FOR i IN generate_series(1, len(head) - {_LID_N - 1})])
           AS ngram
  FROM d
), model AS (
  SELECT cand_lang, ngram, cnt FROM (
    SELECT lang AS cand_lang, ngram, count(*) AS cnt,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, ngram ASC) AS rk
    FROM g WHERE doc_id % {_LID_TRAIN_MOD} = 0
    GROUP BY lang, ngram)
  WHERE rk <= {_LID_TOPK}
), pred AS (
  SELECT doc_id, cand_lang AS pred_lang FROM (
    SELECT g.doc_id, m.cand_lang,
           row_number() OVER (PARTITION BY g.doc_id
                              ORDER BY CAST(SUM(m.cnt) AS BIGINT) DESC,
                                       m.cand_lang DESC) AS rk
    FROM g JOIN model m USING (ngram)
    WHERE g.doc_id % {_LID_TRAIN_MOD} <> 0
    GROUP BY g.doc_id, m.cand_lang)
  WHERE rk = 1
)
SELECT d.lang AS true_lang, coalesce(p.pred_lang, 'unk') AS pred_lang,
       count(*) AS n_docs
FROM d LEFT JOIN pred p USING (doc_id)
WHERE d.doc_id % {_LID_TRAIN_MOD} <> 0
GROUP BY 1, 2
"""
