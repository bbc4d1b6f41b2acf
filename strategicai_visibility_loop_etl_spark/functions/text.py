"""Text-analysis primitives for large-scale document pipelines.

All of these are pure ``pyspark.sql.functions`` column expressions —
they stay inside whole-stage codegen, which is the difference between
"runs on 100 TB of documents" and "melts the Python workers". Each has
an ANSI-SQL twin used as the DuckDB oracle (see queries.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .numeric import round_c

# Per-language marker (stop)words for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic so the heuristic is
# expressible in both Spark and ANSI SQL for oracle parity.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "are"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "de": ("der", "die", "und", "das", "von", "mit", "ist", "den", "nicht", "ein"),
    "fr": ("le", "la", "les", "de", "et", "des", "un", "une", "est", "pour"),
}

STOPWORDS_EN = LANG_MARKERS["en"] + ("a", "an", "it", "on", "as", "at", "by", "be")

# BPE-ish tokenizer: letter runs, digit runs, or single non-alnum
# non-space chars. Kept to a regex subset valid in both Java regex and
# RE2 (DuckDB) so the oracle can count the same tokens.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_FP_MOD = 1_000_000_007
_FP_BASE = 31


def normalized_text(col: Column) -> Column:
    """Lowercase, collapse runs of whitespace, trim — canonical form for hashing."""
    return F.trim(F.regexp_replace(F.lower(col.cast("string")), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    t = normalized_text(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, " "))


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """Token count under the BPE-ish regex (letters|digits|punct singles)."""
    return F.regexp_count(col.cast("string"), F.lit(BPE_ISH_PATTERN)).cast("long")


def _marker_count(col: Column, words: tuple[str, ...]) -> Column:
    """Tokens (with multiplicity) equal to any marker word.

    regexp_count over the normalized text instead of a filter() lambda:
    higher-order functions drop the projection out of whole-stage
    codegen (interpreted, ~20× slower); a single compiled regex stays
    JVM-side. ``(?:^| )`` consumes the boundary the tokenizer split on;
    the zero-width lookahead keeps consecutive marker tokens countable.
    """
    alt = "|".join(words)
    return F.regexp_count(normalized_text(col), F.lit(f"(?:^| )(?:{alt})(?= |$)")).cast("long")


def stopword_hits(col: Column, words: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Number of tokens (with multiplicity) that are in ``words``."""
    return _marker_count(col, words)


def quality_score(col: Column) -> Column:
    """Heuristic document-quality score in [0, 1].

    Components (equal thirds): length saturation (chars/500 capped at 1),
    alpha ratio (alphabetic chars / non-space chars), and English
    stopword ratio saturation (stop hits per token / 0.4 capped at 1).
    Deterministic and SQL-expressible by construction.
    """
    s = normalized_text(col)
    n_chars = F.length(s).cast("double")
    n_nonspace = F.length(F.regexp_replace(s, " ", "")).cast("double")
    n_alpha = F.length(F.regexp_replace(s, r"[^a-z]", "")).cast("double")
    n_tok = token_count(col).cast("double")
    stops = stopword_hits(col).cast("double")

    len_sat = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n_nonspace > 0, n_alpha / n_nonspace).otherwise(F.lit(0.0))
    stop_sat = F.least(
        F.when(n_tok > 0, stops / n_tok).otherwise(F.lit(0.0)) / F.lit(0.4), F.lit(1.0)
    )
    return round_c((len_sat + alpha_ratio + stop_sat) / F.lit(3.0), 6)


def lang_id_expr(col: Column) -> Column:
    """Argmax language over marker-word hit counts; 'und' when all zero.

    Ties break by language code order (deterministic). This is the
    classic cheap stopword language-ID; a production system would layer
    character n-gram profiles on top, but the *engine shape* — per-row
    scoring with native expressions, no Python — is the point here.
    """
    scores = []
    for lang in sorted(LANG_MARKERS):
        scores.append((lang, _marker_count(col, LANG_MARKERS[lang])))
    best = F.lit("und")
    best_score = F.lit(0)
    # Left-to-right fold keeps first-seen language on ties.
    for lang, score in scores:
        take = score > best_score
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_score = F.when(take, score).otherwise(best_score)
    return best


def code_fold_hash(codes: Column) -> Column:
    """Polynomial rolling hash of an int array (mod 1e9+7).

    acc = (acc * 31 + code) mod 1_000_000_007, folded left. Stays
    within int64 (acc < 1e9+7, *31 + 255 << 2^63) so Spark and the
    SQL oracle agree bit-for-bit.  The ONE hash convention shared by
    ``fingerprint64``/``char_fold_hash`` and the winnowing gram
    hashes — change it here or nowhere.  Taking CODES (not a string)
    lets hot callers pre-compute the char-code array once per row
    and hash many slices of it without re-splitting strings.
    """
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(_FP_BASE) + c) % F.lit(_FP_MOD),
    )


def char_codes(col: Column) -> Column:
    """array<int> of ascii codes — the pre-split input to
    ``code_fold_hash`` for callers hashing many substrings."""
    return F.transform(F.split(col, ""), F.ascii)


def char_fold_hash(col: Column) -> Column:
    """``code_fold_hash`` over a raw string's char codes."""
    return code_fold_hash(char_codes(col))


def fingerprint64(col: Column) -> Column:
    """``char_fold_hash`` of the normalized text — the document-level
    fingerprint tier."""
    return char_fold_hash(normalized_text(col))


# "Sloppy windows-1252": the cp1252 mapping for 0x80-0x9F with latin-1
# passthrough for the five undefined bytes — the decode browsers (and
# ftfy) use, and the one that produces the mojibake seen in the wild.
_CP1252_C1 = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}

# Characters whose UTF-8-read-as-cp1252 ghosts are repaired. Curated to
# sequences that essentially never occur legitimately (each needs an
# 'Ã'/'Â'/'â'-class lead byte followed by a specific continuation), so
# unconditional replacement is safe — the plausibility scoring a full
# ftfy does is not needed for this set.
_MOJIBAKE_CHARS = (
    "’‘“”–—…•€™"
    "éèêëáàâäåã"
    "óòôöõúùûüñ"
    "çíìîïßÉÈÁÓ"
    "ÜÖÄÑÇ«»°·½"
    "¡¿ýœŒšžŠŽ"
    "ÃÂÅ"  # the ghost lead bytes themselves (their own ghosts: Ãƒ Ã‚ Ã…;
    # 'â' and its ghost Ã¢ are in the second row)
)


def _mojibake_ghost(ch: str) -> str:
    return "".join(
        _CP1252_C1.get(b, chr(b)) for b in ch.encode("utf-8")
    )


# Longest ghosts first so a 3-byte sequence is never half-eaten by a
# 2-byte rule that happens to prefix it.
MOJIBAKE_TABLE: list[tuple[str, str]] = sorted(
    ((_mojibake_ghost(c), c) for c in _MOJIBAKE_CHARS),
    key=lambda kv: -len(kv[0]),
)


# Unassigned plane-14 code points used as cascade-proof intermediate
# tokens by fix_mojibake (U+E0200..U+E0200+len(table)). Earlier rounds
# used BMP private-use U+E000.. — but PUA icon-font codepoints DO occur
# in scraped web corpora and would have been silently rewritten by
# phase 2. Plane-14 past the variation selectors (U+E01EF) is wholly
# unassigned, carries no font mappings, and essentially never appears
# in real text; input that somehow contains these exact codepoints
# would still be rewritten — an accepted (documented) residual.
MOJIBAKE_SENTINEL_BASE = 0xE0200

# Every ghost starts with one of these ('Â', 'Ã', 'Å', 'â'), and the
# chain rewrites only ghosts and its own sentinels: text that holds none
# of this class comes out of the chain unchanged.
_MOJIBAKE_GATE = "[{}\\x{{{:X}}}-\\x{{{:X}}}]".format(
    "".join(sorted({ghost[0] for ghost, _ in MOJIBAKE_TABLE})),
    MOJIBAKE_SENTINEL_BASE,
    MOJIBAKE_SENTINEL_BASE + len(MOJIBAKE_TABLE) - 1,
)


def fix_mojibake(col: Column) -> Column:
    """Repair UTF-8-decoded-as-windows-1252 mojibake (ftfy-lite):
    ``donâ€™t`` → ``don’t``, ``faÃ§ade`` → ``façade``. Two chained
    literal ``replace`` passes over the curated ghost table — pure JVM
    codegen, no Python, no regex backtracking. Single-layer: doubly
    encoded text comes out one layer shallower per application.

    Two-phase (ghost → plane-14 sentinel → fixed char) so replacement
    outputs can never cascade into later rules: with a naive single
    chain, a literal ``Ã`` followed by the ghost of ``“`` (``â€œ``)
    became ``Ã“`` after the 3-char rule, which the later ``Ã“``→``Ó``
    rule then rewrote — corrupting text that was only partially
    mojibake. Sentinels match no ghost, so phase 1 output is inert and
    phase 2 merely decodes it.

    The chain runs only on text that holds a ghost lead character or a
    sentinel (one character-class scan); any other text is returned as
    is, which is what the chain would return. Clean text is the common
    case, and the gate matters more than one chain's cost suggests:
    predicate pushdown copies the repaired column into every filter on
    a column derived from it (the corpus plan's ``n_tokens`` bounds put
    four copies of the chain in its ``kept`` Filter), so ungated the
    chain ran five times per row."""
    out = col
    for i, (ghost, _fixed) in enumerate(MOJIBAKE_TABLE):
        out = F.replace(out, F.lit(ghost), F.lit(chr(MOJIBAKE_SENTINEL_BASE + i)))
    for i, (_ghost, fixed) in enumerate(MOJIBAKE_TABLE):
        out = F.replace(out, F.lit(chr(MOJIBAKE_SENTINEL_BASE + i)), F.lit(fixed))
    return F.when(col.rlike(_MOJIBAKE_GATE), out).otherwise(col)


def mojibake_count(col: Column) -> Column:
    """How many DISTINCT known mojibake ghost sequences the text
    contains — 0 for clean text; use as a corpus-quality signal or to
    gate the repair pass."""
    out = F.lit(0)
    for ghost, _ in MOJIBAKE_TABLE:
        out = out + F.when(F.contains(col, F.lit(ghost)), 1).otherwise(0)
    return out.cast("int")


def char_entropy(col: Column, decimals: int = 6) -> Column:
    """Shannon entropy (nats) of the normalized text's character
    distribution — the classic cheap degenerate-text signal: machine
    spam like "aaaa…" or "ababab…" sits near 0 while natural language
    sits far higher, so a floor on this catches what length and
    stopword ratios miss.

    NULL for empty text. Pure higher-order expressions, flet-bound
    (the char array and its distinct set each evaluate once); per-char
    cost O(chars × distinct chars). Determinism: −p·ln p rounds to
    DECIMAL(18,9) PER TERM before the exact decimal sum, so the result
    is independent of the engine's distinct-element ordering — the
    same trick as the LM scorers, letting DuckDB replay bit-for-bit.
    """
    from .exprs import flet  # noqa: PLC0415

    def body(cs: Column) -> Column:
        def over_distinct(ds: Column) -> Column:
            n = F.size(cs).cast("double")
            terms = F.transform(
                ds,
                lambda c: flet(
                    F.size(F.filter(cs, lambda x: x == c)) / n,
                    lambda p: round_c(p * F.log(p), 9),
                ).cast("decimal(18,9)"),
            )
            total = F.aggregate(
                terms,
                F.lit(0).cast("decimal(28,9)"),
                # exact: |terms| ≤ distinct chars and each |t| < 10⁹,
                # so the sum can't approach DECIMAL(28,9)'s range
                lambda acc, t: (acc + t).cast("decimal(28,9)"),
            )
            return round_c(-total.cast("double"), decimals)

        return F.when(F.size(cs) > 0, flet(F.array_distinct(cs), over_distinct))

    # the empty-string guard mirrors tokens(): Java split("") yields
    # [""], which would fake one zero-entropy "character"
    norm = normalized_text(col)
    cs = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, "")
    )
    return flet(cs, body)


def code_score(col: Column) -> Column:
    """Heuristic code-vs-prose score in [0, 1] — the cheap classifier
    a training-data pipeline runs to ROUTE documents (code wants
    different cleaning/dedup than prose; a prose-only corpus wants
    code dropped) before any expensive model-based filter.

    Components (equal quarters, each saturated at a natural ceiling):

    - structural-symbol density: ``{}[]();=<>`` chars per non-space
      char, /0.12 capped at 1 (prose sits near 0, real code 0.05-0.2);
    - semicolon/brace line endings: fraction of lines ending in
      ``;``, ``{`` or ``}``, /0.3 capped;
    - indented lines: fraction starting with 2+ spaces or a tab,
      /0.3 capped;
    - keyword hits: ``def|return|import|const|var|function|class|
      if|else|for|while|void|int|public`` per whitespace token,
      /0.15 capped.

    RAW text (no normalization — indentation and line structure ARE
    the signal). 0.0 for empty. Every pattern is RE2-and-Java
    compatible (no lookaround, and whitespace is the EXPLICIT class
    ``[ \\t\\n\\f\\r]`` — Java's ``\\s`` includes vertical tab where
    RE2's does not, so a bare ``\\s`` would silently diverge from a
    SQL replay on documents containing one), so DuckDB replays each
    count exactly; the blend rounds through one double expression,
    identical in both engines.
    """
    ws = "[ \t\n\f\r]"
    s = F.coalesce(col.cast("string"), F.lit(""))
    n_nonspace = F.length(F.regexp_replace(s, ws, "")).cast("double")
    n_sym = F.length(
        F.regexp_replace(s, r"[^{}\[\]();=<>]", "")
    ).cast("double")
    lines = F.split(s, "\n")
    n_lines = F.size(lines).cast("double")
    n_endsym = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"[;{}][ \t\r\f]*$"))
    ).cast("double")
    n_indent = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^(  |\t)"))
    ).cast("double")
    n_tok = F.size(
        F.filter(F.split(s, ws + "+"), lambda t: t != "")
    ).cast("double")
    n_kw = F.regexp_count(
        s,
        F.lit(
            r"\b(def|return|import|const|var|function|class|if|else"
            r"|for|while|void|int|public)\b"
        ),
    ).cast("double")
    sat = lambda num, den, ceil: F.least(  # noqa: E731
        F.lit(1.0),
        F.when(den > 0, num / den).otherwise(F.lit(0.0)) / F.lit(ceil),
    )
    score = (
        sat(n_sym, n_nonspace, 0.12)
        + sat(n_endsym, n_lines, 0.3)
        + sat(n_indent, n_lines, 0.3)
        + sat(n_kw, n_tok, 0.15)
    ) / F.lit(4.0)
    from .numeric import round_c  # noqa: PLC0415

    return round_c(score, 6)


def _readability_parts(col: Column) -> tuple[Column, Column, Column]:
    """(words, sentences, syllables) under the readability heuristics:
    words = non-empty splits on the EXPLICIT whitespace class (the
    code_score discipline — Java's ``\\s`` includes vertical tab,
    RE2's does not); sentences = runs of ``.!?`` (min 1 so a
    fragment still scores); syllables = vowel-group runs
    ``[aeiouy]+`` of the lowercased text (groups never span
    whitespace, so the text-level count equals the per-word sum).
    Every count replays exactly in a SQL twin."""
    ws = "[ \t\n\f\r]"
    s = F.coalesce(col.cast("string"), F.lit(""))
    n_words = F.size(
        F.filter(F.split(s, ws + "+"), lambda t: t != "")
    ).cast("double")
    n_sent = F.greatest(
        F.regexp_count(s, F.lit(r"[.!?]+")).cast("double"), F.lit(1.0)
    )
    n_syll = F.regexp_count(F.lower(s), F.lit("[aeiouy]+")).cast("double")
    return n_words, n_sent, n_syll


def fk_grade(col: Column, decimals: int = 6) -> Column:
    """Flesch–Kincaid grade level — the classic readability score a
    quality pipeline uses to band documents by audience complexity
    (Kincaid et al. 1975): ``0.39·(words/sentences) +
    11.8·(syllables/words) − 15.59``. Vowel-group syllables are the
    standard cheap approximation (hyphenation dictionaries don't
    belong in a scan). NULL for word-less documents (nothing to
    grade, never 0/0). One codegen projection, no UDF; the arithmetic
    is two IEEE divisions + the literal blend, so a SQL twin replays
    bit-for-bit."""
    from .numeric import round_c

    n_words, n_sent, n_syll = _readability_parts(col)
    grade = (
        F.lit(0.39) * (n_words / n_sent)
        + F.lit(11.8) * (n_syll / n_words)
        - F.lit(15.59)
    )
    return F.when(n_words > 0, round_c(grade, decimals))


def reading_ease(col: Column, decimals: int = 6) -> Column:
    """Flesch reading ease (higher = easier, ~0-100 for normal prose):
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``.
    Same parts, same NULL contract and replay discipline as
    :func:`fk_grade`."""
    from .numeric import round_c

    n_words, n_sent, n_syll = _readability_parts(col)
    ease = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sent)
        - F.lit(84.6) * (n_syll / n_words)
    )
    return F.when(n_words > 0, round_c(ease, decimals))


# Unicode script ranges as LITERAL character-class members — literal
# codepoints (not \u escapes in the pattern source) parse identically
# in Java regex and RE2, so a SQL twin counts the same chars.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z",
    "digit": "0-9",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "cjk": "一-鿿぀-ヿ가-힯",
}


def script_fractions(col: Column, decimals: int = 6) -> Column:
    """Per-document writing-system profile: the fraction of non-space
    characters in each major script range (struct of
    ``ascii, latin, digit, cyrillic, greek, arabic, cjk``) — the
    language-ID prior and mojibake/mixed-script tripwire a multilingual
    crawl runs before routing documents to per-language cleaning
    (complements ``lang_id_expr``, which needs the VOCABULARY; this
    reads the raw codepoints, so it works on languages the marker
    table doesn't know).

    Denominator = non-whitespace character count (whitespace is
    layout, not script). NULL struct for whitespace-only/empty text.
    Counting is ``length(text) − length(strip(class))`` per class —
    pure codegen string ops, no UDF, replayable in any regex-capable
    SQL engine (the ranges are literal codepoints, identical in Java
    regex and RE2)."""
    from .numeric import round_c

    ws = "[ \t\n\f\r]"
    s = F.coalesce(col.cast("string"), F.lit(""))
    stripped = F.regexp_replace(s, ws, "")
    n = F.length(stripped).cast("double")

    def frac(ranges: str) -> Column:
        kept = F.length(
            F.regexp_replace(stripped, f"[^{ranges}]", "")
        ).cast("double")
        return round_c(kept / n, decimals)

    fields = [
        frac("\x01-\x7f").alias("ascii"),  # NUL never occurs in text
        *[frac(r).alias(name) for name, r in SCRIPT_RANGES.items()],
    ]
    return F.when(n > 0, F.struct(*fields))


def avalanche32(col: Column) -> Column:
    """Shift-xor avalanche finalizer over a non-negative value
    < 2^32 (the ``char_fold_hash`` output domain; the qx69 JL-hash
    mix): spreads the CLUSTERS the polynomial fold leaves on
    shared-prefix inputs into a uniform 32-bit value — required
    wherever hash VALUES (not just equality) carry meaning: order
    statistics (KMV), ring positions (consistent hashing). The first
    multiply overflows int64 for inputs >= ~3.47e9, so mask wider
    hashes to 32 bits BEFORE calling (the Python mirror is
    arbitrary-precision and would silently diverge otherwise).
    Replayable in SQL as ``xor((h*2654435761)%4294967296, ...)``
    chains.
    """
    m32 = F.lit(4294967296)
    h = F.pmod(col * F.lit(2654435761), m32)
    h = h.bitwiseXOR(F.shiftright(h, 13))
    h = F.pmod(h * F.lit(40503), m32)
    return h.bitwiseXOR(F.shiftright(h, 16))


def py_char_fold_hash(s: str) -> int:
    """Python mirror of ``char_fold_hash`` — for PRE-TABULATING hash
    literals (ring positions, test fixtures) that both the Spark plan
    and a SQL oracle then embed verbatim (the decay-weights trick)."""
    acc = 0
    for ch in s:
        acc = (acc * _FP_BASE + ord(ch)) % _FP_MOD
    return acc


def py_avalanche32(x: int) -> int:
    """Python mirror of :func:`avalanche32` (same pre-tabulation use)."""
    x = (x * 2654435761) % 2**32
    x ^= x >> 13
    x = (x * 40503) % 2**32
    return x ^ (x >> 16)
