"""Property tests (hypothesis): URL normalization must be idempotent on
arbitrary inputs. Examples are batched into one Spark job per
hypothesis case to keep runtime sane."""

from __future__ import annotations

import pytest

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from strategicai_visibility_loop_etl_spark.functions.numeric import to_double_nocomma
from strategicai_visibility_loop_etl_spark.functions.text import (
    MOJIBAKE_SENTINEL_BASE,
    MOJIBAKE_TABLE,
)
from strategicai_visibility_loop_etl_spark.functions.urls import url_normalize_df

# URL-ish fragments that exercise every branch: schemes (mixed case),
# authorities, paths, queries with utm params, fragments, slashes,
# whitespace, and plain junk.
_piece = st.sampled_from(
    [
        "https://", "HTTP://", "hTTps://", "", "/", "//",
        "Example.COM", "shop.example.com:8080", "a.b",
        "/Path", "/path/", "/a/b/c", "",
        "?x=1", "?utm_source=x", "?utm_a=1&keep=2&utm_b=3", "?&&x=1&",
        "#frag", "#a#b", " ", "\t", "not a url", "999",
    ]
)
_urls = st.lists(
    st.tuples(_piece, _piece, _piece, _piece).map("".join),
    min_size=1,
    max_size=24,
)



pytestmark = pytest.mark.sweep  # hypothesis property sweeps

@settings(max_examples=12, deadline=None)
@given(urls=_urls, site_base=st.sampled_from([None, "https://base.example"]))
def test_normalizer_idempotent(spark, urls, site_base):
    df = spark.createDataFrame([(u,) for u in urls], "url string")

    # Idempotence: normalizing the normalized output is a no-op — for
    # converged outputs. The reference (etl_merge.py:504-506) trims
    # exactly ONE trailing slash per call, and strips whitespace before
    # (not after) dropping fragments, so garbage like 'a// ' or
    # 'a/ #frag' converges over multiple passes by design; we mirror
    # that. A normalized value with no trailing slash or whitespace is
    # a fixed point and must not change.
    once_df = url_normalize_df(df, "url", "n", site_base).select("n")
    for r in url_normalize_df(once_df, "n", "n2").collect():
        n = r["n"]
        if n is None:
            continue
        # Converged = no trailing whitespace anywhere and no trailing
        # slash on the path portion (a '/' can hide before the '?').
        # Conservative: root paths ('/', 'https://') are skipped too.
        path_part = n.split("?", 1)[0]
        if n == n.strip() and not path_part.endswith("/"):
            assert r["n2"] == n, (n, r["n2"])


@settings(max_examples=12, deadline=None)
@given(
    nums=st.lists(
        st.one_of(
            st.integers(-10**12, 10**12).map(lambda n: f"{n:,}"),
            st.floats(-1e9, 1e9, allow_nan=False).map(lambda f: f"{f:,.4f}"),
            st.sampled_from(["", " ", "n/a", "--", "1 234", "12%"]),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_comma_coercion_matches_python(spark, nums):
    """to_double_nocomma == python float(x.replace(',','')) or None."""
    df = spark.createDataFrame([(s,) for s in nums], "v string")
    got = [r["d"] for r in df.select(to_double_nocomma(F.col("v")).alias("d")).collect()]

    def oracle(s):
        try:
            return float(s.replace(",", "").strip())
        except ValueError:
            return None

    expect = [oracle(s) for s in nums]
    assert got == expect


_doc_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "x", "commonline"])
_doc_text = st.lists(
    st.lists(_doc_words, min_size=0, max_size=12).map(" ".join), min_size=0, max_size=5
).map("\n".join)


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(_doc_text, min_size=1, max_size=8))
def test_drop_common_lines_properties(spark, texts):
    """Identity when the threshold tolerates everything; and a Python
    reference implementation agrees on arbitrary corpora."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        drop_common_lines,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    # Identity: with max_doc_freq >= corpus size nothing can be dropped.
    ident = {
        r["doc_id"]: r["clean_text"]
        for r in drop_common_lines(df, max_doc_freq=len(texts)).collect()
    }
    assert ident == dict(enumerate(texts))

    # Python oracle at max_doc_freq=1.
    from collections import defaultdict

    docs_per_line = defaultdict(set)
    for i, t in enumerate(texts):
        for line in t.split("\n"):
            docs_per_line[line].add(i)
    expect = {
        i: "\n".join(l for l in t.split("\n") if len(docs_per_line[l]) <= 1)
        for i, t in enumerate(texts)
    }
    got = {
        r["doc_id"]: r["clean_text"]
        for r in drop_common_lines(df, max_doc_freq=1).collect()
    }
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    log=st.lists(
        st.tuples(
            st.integers(0, 2),                      # key
            st.sampled_from(["a", "b", None]),      # value
            st.integers(0, 6),                      # ts
        ),
        min_size=1,
        max_size=20,
    )
)
def test_scd2_intervals_tile_the_timeline(spark, log):
    """Per key: intervals are disjoint, contiguous (each effective_to
    equals the next effective_from), start at the key's min ts, exactly
    one open (is_current) interval, and adjacent values differ."""
    from strategicai_visibility_loop_etl_spark.operators.snapshot import scd2_intervals

    rows = [(k, v, t, i) for i, (k, v, t) in enumerate(log)]
    df = spark.createDataFrame(rows, "k long, v string, ts long, seq long")
    out = scd2_intervals(df, "k", "v", "ts", tiebreak_col="seq").collect()

    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    keys_in_log = {k for k, _, _ in log}
    assert set(by_key) == keys_in_log
    for k, ivs in by_key.items():
        ivs.sort(key=lambda r: r["effective_from"])
        min_ts = min(t for kk, _, t in log if kk == k)
        assert ivs[0]["effective_from"] == min_ts
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["effective_to"] is None
        for a, b in zip(ivs, ivs[1:]):
            assert a["effective_to"] == b["effective_from"]
            assert a["v"] != b["v"] or (a["v"] is None) != (b["v"] is None)


def test_weighted_sample_k_is_prefix_stable(spark):
    """A-ES ranking is a pure function of (key, weight): the top-k
    sample is a prefix of the top-(k+m) sample — growing the budget
    only appends, never reshuffles the kept set."""
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        weighted_sample_k,
    )

    rows = [(i, float(1 + (i * 37) % 11)) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, w double")
    small = {r["k"] for r in weighted_sample_k(df, 20, "k", "w").collect()}
    big = {r["k"] for r in weighted_sample_k(df, 50, "k", "w").collect()}
    assert small < big and len(small) == 20 and len(big) == 50


# printable ascii + the repairable characters themselves, including the
# bare ghost lead bytes (Ã/Â/â/Å) that used to cascade through the
# single-phase replace chain
_ROUNDTRIP_CHARS = [chr(c) for c in range(0x20, 0x7F)] + list("’“”–—…éèüñçöä«»°œ€ÃÂâÅ")
# pieces that probe the repair's gate: ghost fragments and whole
# ghosts, near-lead characters outside the gate's class, and plane-14
# code points at, inside and just outside the sentinel range
_GATE_PIECES = [
    "â€", "Ã©", "Ã", "Ã¢", "Â\xa0", "Å“", "Ã¢â‚¬", "Ä", "ã", "Æ", "€™",
    *(chr(MOJIBAKE_SENTINEL_BASE + i)
      for i in (-1, 0, 1, len(MOJIBAKE_TABLE) - 1, len(MOJIBAKE_TABLE))),
]


@given(
    texts=st.lists(
        st.lists(st.sampled_from(_ROUNDTRIP_CHARS + _GATE_PIECES), max_size=60).map("".join),
        min_size=1,
        max_size=6,
    )
)
# each gate piece alone, so both ends of the sentinel range and every
# lead character meet the gate without another lead beside them
@example(texts=_GATE_PIECES + list("ÃÂâÅ"))
@settings(max_examples=20, deadline=None)
def test_mojibake_ascii_invariant_and_ghost_roundtrip(spark, texts):
    """Three properties of the repair: (a) text with no ghost sequence
    and no sentinel is byte-identical after repair; (b) sloppy-cp1252
    ghosting of any repairable text is undone exactly; (c) on any text,
    clean or ghosted, the gated repair equals the ungated two-phase
    chain, replayed here in Python."""
    from strategicai_visibility_loop_etl_spark.functions.text import (
        fix_mojibake,
        mojibake_count,
    )

    ghosts = [g for g, _ in MOJIBAKE_TABLE]
    sentinels = [chr(MOJIBAKE_SENTINEL_BASE + i) for i in range(len(MOJIBAKE_TABLE))]

    def chain(t: str) -> str:
        for g, s in zip(ghosts, sentinels):
            t = t.replace(g, s)
        for s, (_, fixed) in zip(sentinels, MOJIBAKE_TABLE):
            t = t.replace(s, fixed)
        return t

    def sloppy_cp1252(b: bytes) -> str:
        out = []
        for x in b:
            try:
                out.append(bytes([x]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(x))
        return "".join(out)

    rows = [(i, t, sloppy_cp1252(t.encode("utf-8"))) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i long, clean string, corrupt string")
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            fix_mojibake(F.col("clean")).alias("fixed_clean"),
            fix_mojibake(F.col("corrupt")).alias("fixed_corrupt"),
            mojibake_count(F.col("clean")).alias("n_clean"),
        ).collect()
    }
    for i, t, c in rows:
        assert got[i]["fixed_clean"] == chain(t), (got[i]["fixed_clean"], t)  # (c)
        assert got[i]["fixed_corrupt"] == chain(c), (got[i]["fixed_corrupt"], c)
        assert got[i]["n_clean"] == sum(g in t for g in ghosts)
        if not any(g in t for g in ghosts + sentinels):
            # (a) repair never touches ghost-free text
            assert got[i]["fixed_clean"] == t, (got[i]["fixed_clean"], t)
        if set(t) <= set(_ROUNDTRIP_CHARS):
            # (b) the ghosting of t contains only table sequences for
            # the non-ascii chars, so repair inverts it exactly
            assert got[i]["fixed_corrupt"] == t, (got[i]["fixed_corrupt"], t)


_page_line = st.sampled_from(
    [
        "A proper sentence with five good words.",
        "Another proper sentence that also qualifies!",
        "short one.",
        "no terminal punctuation in this line",
        "Please enable JavaScript to view this page.",
        "shared boilerplate footer line (c) corp.",
        "",
        "   ",
        'He said "quote-terminated lines count too."',
        "multi. mark. line. ends here?",
    ]
)
_page = st.lists(_page_line, min_size=0, max_size=8).map("\n".join)


@settings(max_examples=10, deadline=None)
@given(pages=st.lists(_page, min_size=1, max_size=8))
def test_c4_and_line_dedup_properties(spark, pages):
    """Batched invariants over arbitrary page shapes: c4_clean is
    idempotent; intra-doc line dedup is idempotent and keeps a
    duplicate-free multiset that is a subset of the input lines."""
    from strategicai_visibility_loop_etl_spark.operators.c4 import c4_clean
    from strategicai_visibility_loop_etl_spark.operators.textprep import (
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame(
        list(enumerate(pages)), "doc_id long, text string"
    )

    once = c4_clean(df)
    twice = c4_clean(once)
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    b = {r["doc_id"]: r["text"] for r in twice.collect()}
    assert a == b  # idempotent: cleaning clean pages changes nothing

    d1 = {r["doc_id"]: r for r in dedup_lines_within_doc(df).collect()}
    rd = dedup_lines_within_doc(
        spark.createDataFrame(
            [(i, r["text"]) for i, r in d1.items()], "doc_id long, text string"
        )
    )
    for r in rd.collect():
        assert r["n_removed"] == 0  # idempotent
    for i, page in enumerate(pages):
        src = [ln.strip() for ln in page.split("\n") if ln.strip()]
        out = [ln for ln in d1[i]["text"].split("\n") if ln]
        assert len(set(out)) == len(out)  # duplicate-free
        assert set(out) == set(src)  # same distinct line set
        assert d1[i]["n_removed"] == len(src) - len(out)


@settings(max_examples=8, deadline=None)
@given(pages=st.lists(_page, min_size=2, max_size=6))
def test_boilerplate_excision_properties(spark, pages):
    """Excised lines are exactly those whose doc frequency ≥ min_df;
    surviving pages contain no such line; disjoint corpora no-op."""
    from collections import Counter

    from strategicai_visibility_loop_etl_spark.operators.dedup import (
        boilerplate_line_excision,
    )

    df = spark.createDataFrame(
        list(enumerate(pages)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_line_excision(df, min_df=2).collect()
    }
    dfreq = Counter()
    for page in pages:
        dfreq.update({ln.strip() for ln in page.split("\n") if ln.strip()})
    boiler = {ln for ln, c in dfreq.items() if c >= 2}
    for i, page in enumerate(pages):
        src = [ln.strip() for ln in page.split("\n") if ln.strip()]
        want = [ln for ln in src if ln not in boiler]
        out = [ln for ln in got[i]["clean_text"].split("\n") if ln]
        assert out == want, (i, out, want)
        assert got[i]["n_removed"] == len(src) - len(want)
