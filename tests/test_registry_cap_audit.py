"""Registry-wide scale-cap audit.

The r14 sf2 decade found the same defect class twice: a registered
query carrying a deliberate scale cap whose DuckDB oracle had never
been pushed to the binding point — q24 rode ``dedup_simhash``'s
default ``max_bucket=2000`` while its oracle brute-forces all pairs
(six hot chunk buckets silently dropped 12,536 true pairs at sf2),
and q14's designed 100k anomaly-slice cap first bound at sf2 with an
oracle that ranked the whole candidate set.  A follow-up sweep then
found q23 riding the same ``dedup_minhash_lsh`` default — green at
every tested scale only because no band bucket has exceeded 2000 yet.

This test makes the class mechanical instead of waiting for the next
decade jump to bind a cap:

1. Every operator parameter that prunes by size (``max_bucket``,
   ``max_df``, ``max_block``, ``buckets``, ``limit``) is discovered
   by signature inspection over the whole package — a new cap-bearing
   operator is picked up automatically.  Discovery is fail-closed: a
   package module that does not import kills the audit rather than
   silently dropping its operators, and a canary set of known
   cap-bearing operators must survive the scan.
2. Every function in ``__spark_entry__.py`` is AST-walked.  Any call
   to a cap-bearing operator — keyword OR positional, bound through
   the operator's real signature — must classify each cap parameter:

   - **pinned** — an explicit integer >= ``SAFE_PIN`` (10M, two
     orders of magnitude above the largest sweep corpus: sf2 = 100k
     documents / 12M lineitem): the prune can never fire below
     ~10M-entity corpora, matching an oracle that models NO pruning
     (the q22/q24/q51 convention);
   - **mirrored** — an explicit smaller value or ``"auto"`` listed in
     ``MIRRORED`` below, with a literal marker that must appear in
     the query's oracle SQL (so the mirror cannot silently drift);
   - **default-ok** — the call omits the cap and the
     (function, operator, param) triple is listed in ``DEFAULT_OK``
     with a reason; where the ride-along default itself is the
     contract (q14), the default's VALUE is asserted against the
     operator signature so changing the operator default breaks the
     gate, not just the oracle.

3. The registry must not alias-import a cap-bearing operator
   (``from ... import dedup_minhash_lsh as lsh`` would dodge the
   name-based call matching).

Anything else fails with an actionable message.  Adding a new
registered query that rides a cap default now fails CI instead of
waiting for the scale where the cap first binds.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
import re
from pathlib import Path

import pytest

CAP_PARAM = re.compile(r"^(max_(bucket|df|block)|buckets|limit)$")

#: explicit int pins at/above this can never bind below ~10M-entity
#: corpora (largest sweep corpus: sf2 = 100k docs / 12M lineitem).
SAFE_PIN = 10_000_000

#: operators that MUST survive the signature scan — if any is
#: missing, a module import silently failed and the audit would be
#: fail-open exactly where it matters.
CANARY_OPS = {
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "token_cosine_pairs",
    "embedding_neardup_pairs",
    "fuzzy_match_pairs",
    "blocking_quality",
    "anomaly_ctr_underperf",
}

#: (caller_fn, operator, param) -> (value, oracle_query, marker)
#: the cap is smaller than SAFE_PIN (or "auto") BY DESIGN and the
#: oracle models the identical prune; ``marker`` must appear in
#: oracle_sql()[oracle_query] so the mirror cannot drift silently.
MIRRORED = {
    ("qx85_token_cosine", "token_cosine_pairs", "max_df"): (
        1000,
        "qx85_token_cosine",
        "dfc.n <= 1000",
    ),
}

#: (caller_fn, operator, param) ->
#:     (reason, oracle_query_or_None, marker, required_default)
#: the call legitimately rides the operator default.  When
#: ``required_default`` is not None, the operator signature's default
#: for the param must equal it — so changing the operator default
#: diverges loudly instead of silently drifting from the oracle.
DEFAULT_OK = {
    ("q14_ctr_underperf", "anomaly_ctr_underperf", "limit"): (
        "the cap IS the operator default limit=100_000 in "
        "operators/anomaly.py (the reference's designed slice cap; "
        "TakeOrdered, never an uncapped global window sort); the "
        "oracle mirrors the same deterministic "
        "(missed_clicks DESC, url) cut — first bound and validated "
        "exact at the r14 sf2 decade",
        "q14_ctr_underperf",
        "LIMIT 100000",
        100_000,
    ),
    ("qx61_blocking_quality", "blocking_quality", "max_block"): (
        "fixture bounded by p_partkey < 400 (+50 typos) independent "
        "of scale factor; largest possible block is 450 << 100k, and "
        "the oracle pins oversize_blocks = 0",
        "qx61_blocking_quality",
        "CAST(0 AS BIGINT) AS oversize_blocks",
        None,
    ),
}

ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"


def _norm(s: str) -> str:
    """Whitespace-normalize SQL so markers match across line wraps."""
    return re.sub(r"\s+", " ", s)


def _marker_in(marker: str, sql: str) -> bool:
    return _norm(marker) in _norm(sql)


def _cap_bearing_operators() -> dict[str, tuple[list[str], object]]:
    """operator name -> (cap params, function object), by signature
    inspection over the whole package (a new cap-bearing operator is
    picked up without editing this test).  Fail-closed: module import
    errors abort the audit."""
    import strategicai_visibility_loop_etl_spark as pkg

    out: dict[str, tuple[list[str], object]] = {}
    failures: list[str] = []
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        try:
            mod = importlib.import_module(m.name)
        except Exception as exc:  # noqa: BLE001 - reported below
            failures.append(f"{m.name}: {exc!r}")
            continue
        for name, fn in vars(mod).items():
            if name.startswith("_") or not callable(fn):
                continue
            if getattr(fn, "__module__", "") != m.name:
                continue
            try:
                sig = inspect.signature(fn)
            except (ValueError, TypeError):  # pragma: no cover
                continue
            caps = [p for p in sig.parameters if CAP_PARAM.match(p)]
            if caps:
                out[name] = (caps, fn)
    assert not failures, (
        "package modules failed to import during cap discovery — the "
        "audit would silently skip their operators (fail-open):\n"
        + "\n".join(failures)
    )
    missing = CANARY_OPS - out.keys()
    assert not missing, (
        f"known cap-bearing operators missing from the signature "
        f"scan: {sorted(missing)} — CAP_PARAM regex or package "
        "layout changed"
    )
    # resolve_max_bucket is the resolver itself, not a pruning
    # operator; calling it with a small value is how "auto" works.
    out.pop("resolve_max_bucket", None)
    return out


def _call_name(node: ast.Call) -> str | None:
    if isinstance(node.func, ast.Name):
        return node.func.id
    if isinstance(node.func, ast.Attribute):
        return node.func.attr
    return None


def _bind_args(
    fn, node: ast.Call
) -> tuple[dict[str, ast.expr], bool]:
    """Map the call's positional AND keyword args to parameter names
    through the operator's real signature.  Returns (bound, clean);
    clean=False when *args/**kwargs make binding ambiguous."""
    params = list(inspect.signature(fn).parameters.values())
    bound: dict[str, ast.expr] = {}
    clean = True
    pos_params = [
        p
        for p in params
        if p.kind
        in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
    ]
    for i, arg in enumerate(node.args):
        if isinstance(arg, ast.Starred) or i >= len(pos_params):
            clean = False
            break
        bound[pos_params[i].name] = arg
    for kw in node.keywords:
        if kw.arg is None:  # **kwargs splat
            clean = False
        else:
            bound[kw.arg] = kw.value
    return bound, clean


def _audit_entry_module() -> list[str]:
    cap_ops = _cap_bearing_operators()
    tree = ast.parse(ENTRY.read_text())
    problems: list[str] = []

    import __spark_entry__ as entry

    oracle = {**entry.oracle_sql(), **entry.extra_oracle_sql()}

    # Alias-import guard: `from ... import <cap_op> as <alias>` would
    # dodge the name-based call matching below.
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for alias in node.names:
                if alias.name in cap_ops and alias.asname not in (
                    None,
                    alias.name,
                ):
                    problems.append(
                        f"cap-bearing operator {alias.name} imported "
                        f"as {alias.asname} — the audit matches call "
                        "names; import it unaliased"
                    )

    for fndef in ast.walk(tree):
        if not isinstance(fndef, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fndef):
            if not isinstance(node, ast.Call):
                continue
            op = _call_name(node)
            if op not in cap_ops:
                continue
            cap_params, fn = cap_ops[op]
            bound, clean = _bind_args(fn, node)
            if not clean:
                problems.append(
                    f"{fndef.name} calls {op}() through */** "
                    "splats — audit cannot bind its cap args; call "
                    "it with explicit arguments"
                )
                continue
            for param in cap_params:
                key = (fndef.name, op, param)
                if param not in bound:
                    if key in DEFAULT_OK:
                        _, oq, marker, want_default = DEFAULT_OK[key]
                        if oq is not None and not _marker_in(
                            marker, oracle.get(oq, "")
                        ):
                            problems.append(
                                f"{key}: DEFAULT_OK marker {marker!r} "
                                f"missing from oracle_sql()[{oq!r}] — "
                                "the documented mirror drifted"
                            )
                        if want_default is not None:
                            actual = inspect.signature(fn).parameters[
                                param
                            ].default
                            if actual != want_default:
                                problems.append(
                                    f"{key}: operator default "
                                    f"{actual!r} != the oracle-"
                                    f"mirrored {want_default!r} — "
                                    "the ride-along cap drifted from "
                                    "its oracle"
                                )
                        continue
                    problems.append(
                        f"{fndef.name} calls {op}() riding the "
                        f"{param} default — the q23/q24 latent class. "
                        f"Pin it >= {SAFE_PIN:,} (oracle models no "
                        "pruning), mirror the prune in the oracle and "
                        "list it in MIRRORED, or justify the default "
                        "in DEFAULT_OK."
                    )
                    continue
                val = bound[param]
                if not isinstance(val, ast.Constant):
                    problems.append(
                        f"{key}: cap is a non-literal expression — "
                        "audit cannot classify it; use a literal or "
                        "extend the audit"
                    )
                    continue
                v = val.value
                if isinstance(v, int) and v >= SAFE_PIN:
                    continue  # safe pin, oracle models no pruning
                if key in MIRRORED:
                    want, oq, marker = MIRRORED[key]
                    if v != want:
                        problems.append(
                            f"{key}: value {v!r} != MIRRORED entry "
                            f"{want!r} — update BOTH the oracle and "
                            "this table"
                        )
                    elif not _marker_in(marker, oracle.get(oq, "")):
                        problems.append(
                            f"{key}: MIRRORED marker {marker!r} "
                            f"missing from oracle_sql()[{oq!r}] — "
                            "the oracle no longer models the prune"
                        )
                    continue
                problems.append(
                    f"{key}: explicit cap {v!r} below SAFE_PIN "
                    f"({SAFE_PIN:,}) with no MIRRORED entry — the "
                    "oracle almost certainly models no pruning; this "
                    "is exactly how q24 dropped 12,536 pairs at sf2"
                )
    return problems


def test_registered_queries_classify_every_scale_cap():
    problems = _audit_entry_module()
    assert not problems, "\n".join(problems)


def test_allowlists_reference_live_call_sites():
    """MIRRORED / DEFAULT_OK entries must match actual call sites —
    a renamed query or operator must not leave a stale allowlist row
    silently green."""
    tree = ast.parse(ENTRY.read_text())
    calls = set()
    for fndef in ast.walk(tree):
        if not isinstance(fndef, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fndef):
            if isinstance(node, ast.Call):
                op = _call_name(node)
                if op:
                    calls.add((fndef.name, op))
    for caller, op, _param in list(MIRRORED) + list(DEFAULT_OK):
        assert (caller, op) in calls, (
            f"allowlist row ({caller}, {op}) matches no call site in "
            "__spark_entry__.py — remove or update it"
        )


if __name__ == "__main__":  # pragma: no cover
    pytest.main([__file__, "-q"])
