"""Behavior vectors for the raw web-corpus ingestion family: HTML
boilerplate extraction, URL canonicalization, mojibake repair.  (The
three catalog queries also hash-match DuckDB in test_oracle_parity.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from training_catalog.plans.webcorpus import (
    _MOJIBAKE, canonicalize_url, extract_html_text)

# ---------------------------------------------------------------------------
# HTML extraction
# ---------------------------------------------------------------------------


def _extract_one(spark, s: str) -> str:
    df = spark.createDataFrame([(s,)], "t string")
    return df.select(extract_html_text(F.col("t")).alias("r")).first().r


def test_extract_strips_blocks_tags_and_collapses(spark):
    html = ("<html><head><script>var x = '<p>not text</p>';</script>"
            "<style>body { color: red }</style></head><body>"
            "<nav>home | about</nav>\n<h1>Title</h1>\n"
            "<p>hello   <b>bold</b>\n world</p>"
            "<footer>footer junk</footer></body></html>")
    assert _extract_one(spark, html) == "Title hello bold world"


def test_extract_script_body_with_angle_brackets_removed_whole(spark):
    # the (?s) non-greedy block regex removes the ENTIRE script element
    # even when its body spans lines and contains markup-like strings
    html = "<script>\nif (a<b && b>c) { track('<i>x</i>'); }\n</script>ok"
    assert _extract_one(spark, html) == "ok"


def test_extract_entity_decode_order(spark):
    # &amp; decodes LAST: '&amp;lt;' must yield the literal '&lt;',
    # never double-decode to '<'
    assert _extract_one(spark, "a &amp;lt; b") == "a &lt; b"
    assert _extract_one(
        spark, "x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;y &amp; z"
    ) == 'x <tag> "q" \'s\' y & z'


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------


def _canon_one(spark, url: str) -> str:
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(canonicalize_url(F.col("u")).alias("c")).first().c


def test_canonical_case_port_fragment(spark):
    assert (_canon_one(spark, "HTTP://WWW.Example.COM:80/A/B#frag")
            == "http://www.example.com/A/B")
    # path + query case is PRESERVED (only scheme/host fold)
    assert (_canon_one(spark, "https://Host.Example.com:443/Path?Q=V")
            == "https://host.example.com/Path?Q=V")
    # a NON-default port survives
    assert (_canon_one(spark, "https://example.com:8443/x")
            == "https://example.com:8443/x")
    # :80 is only default for http — https keeps it
    assert (_canon_one(spark, "https://example.com:80/x")
            == "https://example.com:80/x")


def test_canonical_utm_strip_and_empty_query(spark):
    assert (_canon_one(
        spark, "https://e.com/p?utm_source=a&id=5&utm_campaign=b")
        == "https://e.com/p?id=5")
    # all params stripped → the '?' goes too
    assert (_canon_one(spark, "https://e.com/p?utm_source=a")
            == "https://e.com/p")


def test_canonical_index_html_and_trailing_slash(spark):
    assert (_canon_one(spark, "https://e.com/a/index.html")
            == "https://e.com/a")
    assert _canon_one(spark, "https://e.com/a/") == "https://e.com/a"
    # root stays root, with or without an explicit slash
    assert _canon_one(spark, "https://e.com/") == "https://e.com/"
    assert _canon_one(spark, "https://e.com") == "https://e.com/"


# ---------------------------------------------------------------------------
# Mojibake repair
# ---------------------------------------------------------------------------


def _fix_one(spark, s: str) -> str:
    fixed = F.col("t")
    for bad, good in _MOJIBAKE:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    df = spark.createDataFrame([(s,)], "t string")
    return df.select(fixed.alias("r")).first().r


def test_mojibake_repairs_known_sequences(spark):
    bads = [b for b, _ in _MOJIBAKE]
    goods = [g for _, g in _MOJIBAKE]
    assert _fix_one(spark, " ".join(bads)) == " ".join(goods)


def test_mojibake_clean_text_untouched(spark):
    clean = "plain ascii text with no damage at all"
    assert _fix_one(spark, clean) == clean


def test_mojibake_no_pattern_prefixes_a_later_one():
    """The replace chain is order-sensitive: a pattern that PREFIXES a
    later pattern would destroy it before its turn.  Guard the table."""
    bads = [b for b, _ in _MOJIBAKE]
    for i, early in enumerate(bads):
        for late in bads[i + 1:]:
            assert not late.startswith(early), (early, late)


# ---------------------------------------------------------------------------
# Language identification
# ---------------------------------------------------------------------------


def test_lang_id_classifies_tiebreaks_and_unks(spark, tmp_path):
    """On a corpus with genuinely distinct per-language vocabularies the
    trigram model must recover the labels; a doc whose trigrams the
    model never saw predicts 'unk'; and two languages trained on
    IDENTICAL text tie on every score, so the argmax must break to the
    lexicographically larger language (the pinned deterministic rule)."""
    from training_catalog.plans import QUERIES

    rows = [
        # train split (doc_id % 5 == 0)
        (0, "aa", "xxxxxxxx"),
        (5, "bb", "yyyyyyyy"),
        (10, "cc", "qqqqqqqq"),
        (15, "dd", "qqqqqqqq"),     # identical to cc → tie partner
        # test split
        (1, "aa", "xxxxx"),         # only aa trigrams → aa
        (2, "bb", "yyyyy"),         # only bb trigrams → bb
        (3, "aa", "zzzzz"),         # unseen trigrams → unk
        (4, "cc", "qqqqq"),         # ties cc/dd → dd (larger lang)
    ]
    spark.createDataFrame(rows, "doc_id long, lang string, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = {(r.true_lang, r.pred_lang): r.n_docs
           for r in QUERIES["lang_id_confusion"](
               spark, str(tmp_path)).collect()}
    assert got == {("aa", "aa"): 1, ("bb", "bb"): 1,
                   ("aa", "unk"): 1, ("cc", "dd"): 1}


def test_lang_id_model_is_broadcast_and_prefix_bounded(spark):
    """The scoring join must be a broadcast of the ≤ langs×200-row
    model (the training side is never shuffled onto the test side), and
    the trigram source must be the bounded 256-char prefix."""
    from conftest import SF_SMOKE
    from training_catalog.plans import QUERIES

    plan = (QUERIES["lang_id_confusion"](spark, SF_SMOKE)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "substring" in plan and "256" in plan
