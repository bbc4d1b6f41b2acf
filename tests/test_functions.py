"""Unit tests for pure column-expression functions vs hand-computed
values (SURVEY §5a)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.functions.numeric import (
    normalize_ctr,
    to_double_nocomma,
    to_long,
)
from strategicai_visibility_loop_etl_spark.functions.text import (
    fingerprint64,
    lang_id_expr,
    quality_score,
    token_count,
    bpe_ish_token_count,
)
from strategicai_visibility_loop_etl_spark.functions.urls import looks_url_like, url_normalize_df


def _one(spark, expr, value, schema="v string"):
    return spark.createDataFrame([(value,)], schema).select(expr.alias("r")).first()["r"]


# --- urls -------------------------------------------------------------------

URL_CASES = [
    # (input, site_base, strip_all, expected)
    ("HTTPS://Example.COM/Path/?utm_source=x&id=2#frag", None, False, "https://example.com/Path?id=2"),
    ("https://example.com/", None, False, "https://example.com/"),
    ("https://example.com/a/", None, False, "https://example.com/a"),
    ("/about/", "https://Site.com", False, "https://site.com/about"),
    ("/about/", None, False, "/about"),
    ("https://example.com/a?utm_source=1&utm_medium=2", None, False, "https://example.com/a"),
    ("https://example.com/a?b=1&c=2", None, True, "https://example.com/a"),
    ("not a url", None, False, "not a url"),
    ("HTTP://X.io/", None, False, "http://x.io/"),
    ("https://example.com/a#x?y=1", None, False, "https://example.com/a"),
]


def _norm(spark, value, base=None, strip_all=False):
    df = spark.createDataFrame([(value,)], "v string")
    return url_normalize_df(df, "v", "r", base, strip_all).first()["r"]


@pytest.mark.parametrize("raw,base,strip_all,expected", URL_CASES)
def test_url_normalize(spark, raw, base, strip_all, expected):
    assert _norm(spark, raw, base, strip_all) == expected


def test_url_normalize_idempotent(spark):
    vals = [(c[0],) for c in URL_CASES]
    df = spark.createDataFrame(vals, "v string")
    twice = url_normalize_df(url_normalize_df(df, "v", "n1"), "n1", "n2")
    for r in twice.collect():
        assert r["n1"] == r["n2"]


def test_url_normalize_null_passthrough(spark):
    assert _norm(spark, None) is None
    assert _norm(spark, "   ") == "   "


def test_looks_url_like(spark):
    assert _one(spark, looks_url_like(F.col("v")), "https://a.b") is True
    assert _one(spark, looks_url_like(F.col("v")), "/path") is True
    assert _one(spark, looks_url_like(F.col("v")), "hello") is False


# --- numeric ----------------------------------------------------------------


def test_to_double_nocomma(spark):
    assert _one(spark, to_double_nocomma(F.col("v")), "1,234.5") == 1234.5
    assert _one(spark, to_double_nocomma(F.col("v")), " 42 ") == 42.0
    assert _one(spark, to_double_nocomma(F.col("v")), "junk") is None


def test_to_long(spark):
    assert _one(spark, to_long(F.col("v")), "12.0") == 12
    assert _one(spark, to_long(F.col("v")), "1,200") == 1200
    assert _one(spark, to_long(F.col("v")), "n/a") is None


def test_normalize_ctr_percent_sign(spark):
    df = spark.createDataFrame([("5.5%",), ("2",), ("bad",)], "ctr string")
    vals = {r["ctr"] for r in normalize_ctr(df, "ctr").collect()}
    assert vals == {0.055, 0.02, None}


def test_normalize_ctr_majority_heuristic(spark):
    # Majority of parseable values in (1,100] -> divide by 100.
    df = spark.createDataFrame([("5",), ("7",), ("50",)], "ctr string")
    vals = sorted(r["ctr"] for r in normalize_ctr(df, "ctr").collect())
    assert vals == [0.05, 0.07, 0.5]


def test_normalize_ctr_fraction_kept(spark):
    # Unparseable rows count in the denominator: 2/5 in range -> no scaling.
    df = spark.createDataFrame([("5",), ("7",), ("x",), ("y",), ("z",)], "ctr string")
    vals = sorted(r["ctr"] for r in normalize_ctr(df, "ctr").collect() if r["ctr"] is not None)
    assert vals == [5.0, 7.0]


# --- text -------------------------------------------------------------------


def test_token_count(spark):
    assert _one(spark, token_count(F.col("v")), "Hello   world  foo") == 3
    assert _one(spark, token_count(F.col("v")), "") == 0
    assert _one(spark, token_count(F.col("v")), "   ") == 0


def test_bpe_ish_token_count(spark):
    # "don't stop2" -> don / ' / t / stop2 -> [don][']['t'... wait: letters|digits|single punct
    # don, ', t, stop, 2 => 5
    assert _one(spark, bpe_ish_token_count(F.col("v")), "don't stop2") == 5


def test_fingerprint64(spark):
    # Hand-computed: "ab" -> ((0*31+97)%M)*31+98 % M = 97*31+98 = 3105
    assert _one(spark, fingerprint64(F.col("v")), "ab") == 3105
    # Normalization folds case/whitespace.
    a = _one(spark, fingerprint64(F.col("v")), "Hello  World")
    b = _one(spark, fingerprint64(F.col("v")), "hello world")
    assert a == b


def test_shingles(spark):
    """Word k-gram shingles of the normalized text: one row per
    distinct gram per document, none when the text is shorter than k."""
    from strategicai_visibility_loop_etl_spark.operators.dedup import exploded_shingles

    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "one two")], "doc_id long, text string"
    )
    got = sorted(r["g"] for r in exploded_shingles(df, k=2).filter("id = 1").collect())
    assert got == ["a b", "b c", "c a"]
    assert exploded_shingles(df, k=3).filter("id = 2").count() == 0


def test_lang_id(spark):
    assert _one(spark, lang_id_expr(F.col("v")), "the cat and the dog are in the house") == "en"
    assert _one(spark, lang_id_expr(F.col("v")), "el perro y la casa de los gatos") == "es"
    assert _one(spark, lang_id_expr(F.col("v")), "xyzzy plugh") == "und"


def test_quality_score_bounds(spark):
    docs = [("",), ("the and of to in is that for with are " * 20,), ("!!!! ???? ####",)]
    df = spark.createDataFrame(docs, "v string")
    for r in df.select(quality_score(F.col("v")).alias("q")).collect():
        assert 0.0 <= r["q"] <= 1.0
    rich = _one(spark, quality_score(F.col("v")), "the and of to in is that for with are " * 20)
    junk = _one(spark, quality_score(F.col("v")), "!!!! ???? ####")
    assert rich > junk


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """HLL approx (the 100 TB default) stays within 5% of the exact
    count that q39_distinct_counts oracles."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    row = orders.agg(
        F.countDistinct("o_custkey").alias("exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_percentile_approx_tolerance(spark, sf_dir):
    """percentile_approx (the mergeable-sketch form q38's docstring
    routes 100 TB users to) stays within the sketch's rank-error bound
    of the exact per-group percentiles the oracle pins."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rows = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.9).alias("exact"),
        F.percentile_approx("l_extendedprice", 0.9, 1000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.89)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.91)").alias("hi"),
    ).collect()
    for r in rows:
        # accuracy=1000 -> rank error <= 1/1000; [p89, p91] is a
        # generous value-space envelope for that.
        assert r["lo"] <= r["approx"] <= r["hi"], r


def test_freq_items_sketch_covers_true_frequents(spark, sf_dir):
    """DataFrame.freqItems (the streaming-sketch frequent-items pass)
    must contain every value whose true frequency clears the support
    threshold — false positives allowed, false negatives not."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    found = set(li.freqItems(["l_returnflag"], support=0.2).collect()[0][0])
    total = li.count()
    truth = {
        r["l_returnflag"]
        for r in li.groupBy("l_returnflag").count().collect()
        if r["count"] / total >= 0.2
    }
    assert truth <= found, (truth, found)


def test_fix_mojibake_real_cp1252_roundtrip(spark):
    """Ghosts built by a REAL utf-8→cp1252 mis-decode (not the module's
    own table) must repair back to the original."""
    from strategicai_visibility_loop_etl_spark.functions.text import (
        fix_mojibake,
        mojibake_count,
    )

    originals = [
        "don’t “quote” me — it’s… fine",
        "façade ménage über señor œuvre",
        "El niño comió jalapeños — ¡qué rico!",
        "plain ascii stays untouched",
        "température 20° «précisément»",
    ]
    def sloppy_cp1252(b: bytes) -> str:
        # what browsers do: cp1252, with latin-1 passthrough for the
        # five bytes cp1252 leaves undefined (0x9d in ” etc.)
        out = []
        for x in b:
            try:
                out.append(bytes([x]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(x))
        return "".join(out)

    corrupt = [sloppy_cp1252(s.encode("utf-8")) for s in originals]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(corrupt)], "i long, text string"
    )
    out = {
        r["i"]: (r["fixed"], r["n"])
        for r in df.select(
            "i",
            fix_mojibake(F.col("text")).alias("fixed"),
            mojibake_count(F.col("text")).alias("n"),
        ).collect()
    }
    for i, s in enumerate(originals):
        assert out[i][0] == s, (out[i][0], s)
    assert out[3][1] == 0          # clean ascii: no ghosts detected
    assert all(out[i][1] > 0 for i in (0, 1, 2, 4))

    # repair is idempotent on already-clean text
    df2 = spark.createDataFrame([(0, originals[0])], "i long, text string")
    assert df2.select(fix_mojibake(F.col("text")).alias("f")).first()["f"] == originals[0]


def test_mojibake_count_counts_each_ghost_once(spark):
    """``mojibake_count`` counts DISTINCT ghosts: one table rule per
    ghost, so text holding only the ghost of 'â' counts 1."""
    from strategicai_visibility_loop_etl_spark.functions.text import (
        MOJIBAKE_TABLE,
        mojibake_count,
    )

    df = spark.createDataFrame([("Ã¢",), ("Ã¢ Ã¢ Ã©",), ("â",)], "text string")
    got = [r[0] for r in df.select(mojibake_count(F.col("text"))).collect()]
    assert got == [1, 2, 0]
    assert len({g for g, _ in MOJIBAKE_TABLE}) == len(MOJIBAKE_TABLE)


def test_fix_mojibake_no_cascade_across_replacement_boundary(spark):
    """Mixed content: a LITERAL ghost lead byte adjacent to real
    mojibake must survive repair. Single-phase chains cascaded here —
    'Ã' + 'â€œ' became 'Ã“' after the 3-char rule, which the later
    'Ã“'→'Ó' rule then rewrote to 'Ó'. The sentinel two-phase keeps
    the literal 'Ã' and repairs only the ghost."""
    from strategicai_visibility_loop_etl_spark.functions.text import (
        fix_mojibake,
    )

    cases = [
        (0, "Ãâ€œ", "Ã“"),          # the ADVICE cascade example
        (1, "Ââ€™x", "Â’x"),         # Â + ghost-of-’
        (2, "Ã Ã©", "Ã é"),          # literal Ã, space, then real ghost
        (3, "Ãƒ", "Ã"),              # ghost of Ã itself now repairs
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "i long, text string"
    )
    got = {r["i"]: r["f"] for r in
           df.select("i", fix_mojibake(F.col("text")).alias("f")).collect()}
    for i, _t, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_fix_mojibake_preserves_bmp_pua_icon_chars(spark):
    """Scraped corpora contain BMP private-use codepoints (icon fonts:
    U+E000..U+F8FF). The sentinel range lives in unassigned plane-14
    (U+E0200+), so literal PUA chars — including the exact old sentinel
    codepoints U+E000..U+E03E — must pass through repair untouched,
    even adjacent to real mojibake."""
    from strategicai_visibility_loop_etl_spark.functions.text import (
        MOJIBAKE_SENTINEL_BASE,
        MOJIBAKE_TABLE,
        fix_mojibake,
    )

    assert MOJIBAKE_SENTINEL_BASE >= 0xE0200  # past plane-14 assigned block
    old_sentinels = "".join(chr(0xE000 + i) for i in range(len(MOJIBAKE_TABLE)))
    cases = [
        (0, "", ""),
        (1, f"x{old_sentinels}y", f"x{old_sentinels}y"),
        (2, "donâ€™t", "don’t"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "i long, text string"
    )
    got = {r["i"]: r["f"] for r in
           df.select("i", fix_mojibake(F.col("text")).alias("f")).collect()}
    for i, _t, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_url_host_parity_with_normalizer_authority(spark):
    """url_host must agree with the authority component url_normalize_df
    embeds (reference etl_merge.py:474-514 lowercases the netloc):
    for every URL with a scheme, the normalized output starts with
    scheme://host once userinfo/port are absent from the input, and
    url_host strips exactly the userinfo/port/trailing-dot decorations
    the normalizer's netloc handling tolerates."""
    from strategicai_visibility_loop_etl_spark.functions.urls import url_host

    cases = [
        (0, "https://WWW.Example.COM/Path?utm_source=x", "www.example.com"),
        (1, "http://user:pw@Sub.Host.io:8080/a", "sub.host.io"),
        (2, "https://example.com.", "example.com"),
        (3, "http://[2001:DB8::1]:8080/x", "[2001:db8::1]"),
        (4, "/path/only", None),
        (5, "not a url", None),
        (6, None, None),
        (7, "", None),
        (8, "HTTPS://A.B.C/", "a.b.c"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in cases], "i long, u string")
    got = {
        r["i"]: r
        for r in url_normalize_df(
            df.withColumn("h", url_host(F.col("u"))), "u", "n"
        ).collect()
    }
    for i, _u, want in cases:
        assert got[i]["h"] == want, (i, got[i]["h"], want)
        if want is not None and "@" not in (_u or "") and "]" not in want:
            # normalizer lowercases the same authority; host must be a
            # prefix of the normalized URL's authority section
            norm = got[i]["n"]
            assert ("://" + want) in norm or norm.startswith(want), (norm, want)


def test_host_suffixes_chain_and_cap(spark):
    from strategicai_visibility_loop_etl_spark.functions.urls import host_suffixes

    df = spark.createDataFrame(
        [(0, "a.b.example.com"), (1, "com"), (2, None),
         (3, ".".join(f"l{i}" for i in range(12)) + ".example.com")],
        "i long, h string",
    )
    got = {r["i"]: r["s"] for r in
           df.select("i", host_suffixes(F.col("h")).alias("s")).collect()}
    assert got[0] == ["a.b.example.com", "b.example.com", "example.com", "com"]
    assert got[1] == ["com"]
    assert got[2] == []
    # capped at the last 8 labels PLUS the full host itself — an exact
    # blocklist entry for a deep host must still match (ADVICE r7)
    deep = ".".join(f"l{i}" for i in range(12)) + ".example.com"
    assert len(got[3]) == 9 and got[3][0] == deep and got[3][-1] == "com"
    assert deep in got[3]


def test_char_entropy_matches_python(spark):
    """char_entropy vs an independent math.log reference; normalized
    (lowercased, whitespace-collapsed) chars including spaces."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from strategicai_visibility_loop_etl_spark.functions.text import (
        char_entropy,
    )
    from pyspark.sql import functions as F

    docs = {
        1: "aaaaaaa",              # single symbol -> 0.0
        2: "ababababab",           # two equiprobable -> ln 2
        3: "The quick brown fox jumps over the lazy dog",
        4: "",                     # empty -> NULL
        5: None,                   # null -> NULL
        6: "AA  aa",               # normalization: 'aa aa' -> {'a': 4/5, ' ': 1/5}
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", char_entropy(F.col("text")).alias("h")).collect()
    }

    def ref(t):
        if t is None:
            return None
        s = " ".join(t.lower().split())
        if not s:
            return None
        n = len(s)
        c = Counter(s)
        q9 = lambda x: Decimal(repr(x)).quantize(
            Decimal("1.000000000"), rounding=ROUND_HALF_UP)
        total = sum(q9((k / n) * math.log(k / n)) for k in c.values())
        return float(Decimal(repr(-float(total))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    for i, t in docs.items():
        want = ref(t)
        if want is None:
            assert got[i] is None, (i, got[i])
        else:
            assert got[i] is not None and abs(got[i] - want) < 1e-9, (i, got[i], want)
    assert got[1] == 0.0
    assert abs(got[2] - round(math.log(2), 6)) < 1e-9
    assert got[3] > got[2] > got[1]


def test_l_diversity_violations(spark):
    """Groups with fewer than l distinct non-NULL sensitive values
    violate; NULL sensitive values do not add diversity; NULL quasi
    combos group as themselves (capability row 187)."""
    import pytest as _pytest

    from strategicai_visibility_loop_etl_spark.operators.governance import (
        l_diversity_violations,
    )

    df = spark.createDataFrame(
        [
            ("a", "flu"), ("a", "flu"), ("a", None),   # 1 distinct -> viol
            ("b", "flu"), ("b", "cold"),                # 2 distinct -> ok
            (None, "hiv"),                              # NULL quasi -> viol
        ],
        "zip string, dx string",
    )
    out = {
        r["zip"]: r
        for r in l_diversity_violations(df, ["zip"], "dx", l=2).collect()
    }
    assert set(out) == {"a", None}
    assert out["a"]["n"] == 3 and out["a"]["n_sensitive"] == 1
    with _pytest.raises(ValueError):
        l_diversity_violations(df, ["zip"], "dx", l=1)


def test_readability_scores(spark):
    """FK grade / reading ease on a known sentence pair; NULL for
    word-less text (never 0/0)."""
    from strategicai_visibility_loop_etl_spark.functions.text import (
        fk_grade,
        reading_ease,
    )

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!"), (2, ""), (3, None), (4, "   ")],
        "id long, text string",
    )
    out = {
        r["id"]: (r["g"], r["e"])
        for r in df.select(
            "id",
            fk_grade(F.col("text")).alias("g"),
            reading_ease(F.col("text")).alias("e"),
        ).collect()
    }
    # words=6, sentences=2, syllables=6 (vowel groups)
    assert out[1] == (
        round(0.39 * 3.0 + 11.8 * 1.0 - 15.59, 6),
        round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 6),
    )
    assert out[2] == (None, None)
    assert out[3] == (None, None)
    assert out[4] == (None, None)


def test_script_fractions(spark):
    """Mixed-script profile: literal codepoint classes count per
    range; whitespace excluded from the denominator; NULL struct for
    blank text."""
    from strategicai_visibility_loop_etl_spark.functions.text import (
        script_fractions,
    )

    df = spark.createDataFrame(
        [(1, "abc 123 Привет 你好"), (2, "  ")],
        "id long, text string",
    )
    rows = {
        r["id"]: r["p"]
        for r in df.select(
            "id", script_fractions(F.col("text")).alias("p")
        ).collect()
    }
    p = rows[1]
    n = 14.0  # 3 latin + 3 digit + 6 cyrillic + 2 cjk
    assert p["ascii"] == round(6 / n, 6)
    assert p["latin"] == round(3 / n, 6)
    assert p["digit"] == round(3 / n, 6)
    assert p["cyrillic"] == round(6 / n, 6)
    assert p["cjk"] == round(2 / n, 6)
    assert p["greek"] == 0.0 and p["arabic"] == 0.0
    assert rows[2] is None


def test_mixture_diversity(spark):
    """Unbiased Gini–Simpson from pair counts: monoculture 0, an
    a,a,b mix 2/3; n=1 groups report NULL (no pair to draw); NULL
    classes excluded."""
    from strategicai_visibility_loop_etl_spark.operators.governance import (
        mixture_diversity,
    )

    df = spark.createDataFrame(
        [
            ("s1", "a"), ("s1", "a"), ("s1", "b"),
            ("s2", "a"), ("s2", "a"),
            ("s3", "a"), ("s3", None),
        ],
        "src string, lang string",
    )
    out = {
        r["src"]: r
        for r in mixture_diversity(df, "lang", ["src"]).collect()
    }
    assert out["s1"]["n"] == 3 and out["s1"]["k_classes"] == 2
    assert out["s1"]["gini_simpson"] == round(1 - 2 / 6, 6)
    assert out["s1"]["berger_parker"] == round(2 / 3, 6)
    assert out["s2"]["gini_simpson"] == 0.0     # monoculture
    assert out["s3"]["n"] == 1 and out["s3"]["gini_simpson"] is None
    # ungrouped form: one global row
    g = mixture_diversity(df, "lang").collect()
    assert len(g) == 1 and g[0]["n"] == 6
