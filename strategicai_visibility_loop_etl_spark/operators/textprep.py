"""Training-data preparation operators: chunking, redaction, sampling,
packing.

All four are pure column-expression / window plans (whole-stage
codegen, no Python in the hot path) and have exact ANSI-SQL twins, so
they ride the same DuckDB oracle gate as the relational queries.

- ``chunk_documents`` — split long documents into overlapping
  token-window chunks (the pre-tokenization step of an LLM ingest
  pipeline). ``sequence`` + ``explode`` + ``slice``: one narrow
  explode, no shuffle at all until the caller aggregates.
- ``redact_pii`` — regex scrub of emails/phones to typed placeholder
  tokens. Plain ``regexp_replace`` chain (patterns kept to the regex
  subset Java and RE2 share).
- ``hash_sample`` — deterministic per-stratum sampling by a
  multiplicative hash of the row key: reproducible across engines,
  runs, and partitionings (``rand()`` is none of those), stratum rates
  from a broadcastable dim.
- ``pack_sequences`` — assign documents to fixed-token-budget packs in
  key order via a running-sum window (closed-form ``floor(cumsum /
  budget)``). A pack may overflow by at most one document — the
  closed-form trade-off that keeps packing one window over one
  shuffle; a strict never-overflow greedy is inherently sequential
  (each decision depends on the accumulated remainder) and would need
  a stateful per-partition pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.localframe import literal_frame

from ..functions.numeric import round_c
from ..functions.text import normalized_text

# Knuth's multiplicative constant; arithmetic stays in BIGINT range so
# the SQL twin ((id * 2654435761) % 2^32) is bit-identical.
_KNUTH = 2654435761
_MOD = 4294967296


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_chunk_tokens) — overlapping
    token windows of ``chunk_tokens`` with stride chunk_tokens−overlap.

    Empty documents produce no chunks. The last chunk may be short
    (never empty): starts are 0, stride, … < n_tokens.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = df.select(
        F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n")
    ).filter((F.col("__n") > 0) & (F.element_at("__toks", 1) != ""))
    starts = F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
    exploded = base.select(
        id_col, "__toks", "__n", F.explode(starts).alias("__start")
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        (F.col("__start") / stride).cast("int").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__start")).alias(
            "n_chunk_tokens"
        ),
    )


# Patterns restricted to the Java/RE2 common subset (char classes,
# bounded repeats — no backrefs or lookarounds).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,3}([- ][0-9]{2,4}){2,4}"


def redact_pii(
    col,
    email_token: str = "[EMAIL]",
    phone_token: str = "[PHONE]",
):
    """Column expression: emails then phones replaced by placeholder
    tokens. Order matters — emails first so digits inside an address
    are not half-eaten by the phone pattern."""
    out = F.regexp_replace(col, EMAIL_RE, email_token)
    return F.regexp_replace(out, PHONE_RE, phone_token)


def hash_sample(
    df: DataFrame,
    rates: DataFrame,
    key_col: str,
    stratum_col: str,
    rate_col: str = "rate_per_mille",
    denom: int = 1000,
) -> DataFrame:
    """Deterministic stratified sample: keep a row iff
    ``(key × 2654435761) mod 2³² mod denom < rate`` for its stratum.
    ``rates`` is a tiny (stratum, rate) dim — broadcast join, no
    shuffle on the fact side; the decision is a pure function of the
    key, so resampling with a higher rate yields a superset (stable
    expansion — the property training-data pipelines need from a
    sample).

    ``denom`` sets the rate granularity (default per-mille; callers
    that derive rates from small target÷population ratios should use
    a finer denom so the rate doesn't floor to zero — the 2³² hash
    range supports any denom up to ~4×10⁹).

    The key folds to 31 bits before the multiply so the arithmetic
    never overflows BIGINT (ANSI mode throws on overflow) and the SQL
    twin stays bit-identical."""
    folded = F.pmod(F.col(key_col), F.lit(2147483648))
    bucket = F.pmod((folded * F.lit(_KNUTH)) % F.lit(_MOD), F.lit(denom))
    return (
        df.join(F.broadcast(rates), stratum_col)
        .filter(bucket < F.col(rate_col))
        .drop(rate_col)
    )


def topk_per_stratum(
    df: DataFrame,
    k: int,
    key_col: str,
    stratum_col: str,
    rank_col: str = "sample_rank",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Deterministic exactly-``k``-per-stratum sample: rank rows within
    each stratum by the multiplicative hash of the key (ties broken by
    the key itself, then ``tiebreak_cols``) and keep rank ≤ k.

    Pass ``tiebreak_cols`` when ``key_col`` is not unique: without a
    total order, rows tied on the key take engine-dependent ranks and
    the result is only deterministic up to that permutation.

    The rate-based sibling ``hash_sample`` can't promise an exact count
    per stratum; this one can, at the cost of a per-stratum rank. The
    rank-≤-k filter compiles to Spark's WindowGroupLimit — each map
    task keeps only its local top-k per stratum before the shuffle, so
    the exchange carries O(#partitions × k) rows per stratum, not the
    stratum. Like ``hash_sample``, the ordering is a pure function of
    the key: reproducible across engines, runs, and partitionings, and
    stable under corpus growth (a new row only displaces the current
    rank-k row, never reshuffles the kept set).
    """
    folded = F.pmod(F.col(key_col), F.lit(2147483648))
    h = F.pmod(folded * F.lit(_KNUTH), F.lit(_MOD))
    order = [h.asc(), F.col(key_col).asc()]
    order += [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(stratum_col).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def repetition_metrics(
    df: DataFrame,
    n: int = 2,
    top_frac_threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality metrics per document:
    (id, n_grams, top_gram_frac, distinct_gram_frac, repetitive).

    ``top_gram_frac`` = occurrences of the most frequent word-n-gram /
    total n-grams; boilerplate and looped generations push it up.
    Two hash aggregates over the exploded n-gram table — both partial
    (map-side) aggregable, fully codegen'd; documents with fewer than
    ``n`` tokens emit no n-grams and are excluded. Counts are exact
    longs; the final per-row divisions are IEEE-identical across
    engines, so the metrics oracle bit-exactly.
    """
    from pyspark.ml.feature import NGram  # noqa: PLC0415 (cheap, pure-plan transform)

    toks = df.select(
        F.col(id_col),
        F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ").alias("__toks"),
    )
    grams = NGram(n=n, inputCol="__toks", outputCol="__g").transform(toks)
    per = (
        grams.select(id_col, F.explode("__g").alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
    )
    top_frac = F.max("c") / F.sum("c")
    return per.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        round_c(top_frac, 6).alias("top_gram_frac"),
        round_c(F.count("*") / F.sum("c"), 6).alias("distinct_gram_frac"),
        (top_frac > top_frac_threshold).alias("repetitive"),
    )


def drop_common_lines(
    df: DataFrame,
    max_doc_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Line-level corpus dedup (the RefinedWeb/C4 boilerplate filter):
    remove every line that occurs in more than ``max_doc_freq``
    distinct documents; return (id, clean_text, n_lines, n_lines_kept).

    Plan shape, scale-first: lines are exploded once; the document
    frequency is aggregated over ``xxhash64(line)`` so only (hash,
    doc_id) rides the df shuffle — never the line text. The common-hash
    set joins back to the line rows as a keep/drop flag (no broadcast
    assumption: at web scale the boilerplate set can be millions of
    lines), and each document reassembles in one grouped aggregate via
    ``array_sort(collect_list(struct(line_id, …)))`` — order restored
    without a window. A 64-bit hash collision can only merge two lines'
    counts upward, i.e. over-drop a rare line — the conservative
    direction for a training-data filter.

    Documents whose every line is boilerplate stay in the output with
    ``clean_text = ''`` (a filter decision for the caller, not this
    operator).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), delim)).alias(
            "__line_id", "__line"
        ),
    ).withColumn("__h", F.xxhash64("__line"))
    common = (
        lines.groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__h", F.lit(True).alias("__drop"))
    )
    flagged = lines.join(common, "__h", "left")
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("__line_id", "__line", "__drop"))),
        lambda x: x["__drop"].isNull(),
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda x: x["__line"]), delim).alias("clean_text"),
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("__drop").isNull(), 1)).alias("n_lines_kept"),
    )


def shard_assignment(
    df: DataFrame,
    n_shards: int,
    key_col: str,
    rank_col: str = "pos_in_shard",
) -> DataFrame:
    """Deterministic training-order sharding: every row gets a
    ``shard`` (multiplicative key hash mod ``n_shards``) and a dense
    ``pos_in_shard`` (0-based rank by (hash, key) within the shard) —
    the "global shuffle" step before writing training shards, without
    a global sort.

    The order is a pure function of the key (reproducible across
    engines, runs, partitionings); within-shard ranking is one window
    per shard — shards are many and hash-balanced, so no single
    reducer sees more than ~1/n_shards of the data. A truly global
    order would need one sorted partition; sharded order is the form
    training loaders actually consume (one file list per shard).
    """
    folded = F.pmod(F.col(key_col), F.lit(2147483648))
    h = F.pmod(folded * F.lit(_KNUTH), F.lit(_MOD))
    shard = F.pmod(h, F.lit(n_shards))
    w = Window.partitionBy(shard).orderBy(h.asc(), F.col(key_col).asc())
    return df.select(
        "*",
        shard.cast("int").alias("shard"),
        (F.row_number().over(w) - 1).cast("long").alias(rank_col),
    )


def tfidf_top_terms(
    df: DataFrame,
    top_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``top_k`` characteristic terms per document by smoothed
    TF-IDF: ``tf × ln((N+1)/(df+1))`` — (id, term, tf, doc_freq,
    score, rank).

    Plan: one hash aggregate for per-(doc, term) tf, one more over it
    for per-term df (both partial-aggregable), N as a one-row scalar
    broadcast, a term-keyed join, and a WindowGroupLimit top-k per doc.
    Ranking happens on the ROUNDED score (6 dp) with a term tiebreak:
    ``ln`` is only ~1-ulp reproducible across math libraries, and an
    unrounded order-by would let two mathematically-distinct-but-equal
    scores (e.g. 2·ln(x) vs ln(x²)) rank differently per engine.
    """
    norm = normalized_text(F.coalesce(F.col(text_col), F.lit("")))
    ex = (
        df.select(F.col(id_col), F.explode(F.split(norm, " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = ex.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = ex.select(id_col).distinct().agg(F.count("*").alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            round_c(
                F.col("tf")
                * F.log((F.col("__n") + 1).cast("double") / (F.col("doc_freq") + 1)),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "doc_freq", "score", "rank")
    )


def global_prefix_sum(
    df: DataFrame, value_col: str, id_col: str, out_col: str = "__before"
) -> DataFrame:
    """Exclusive global prefix sum of ``value_col`` in ``id_col``
    order as ``out_col`` — the DISTRIBUTED two-pass form (never a
    single-partition global window): range-partition by id, running
    sum within each partition, then add each partition's cumulative
    offset (a partition-count-sized frame — the only single-partition
    window runs over that, not the data). ``id_col`` must be unique.
    Shared by ``pack_sequences`` and ``carve_blocks``.

    The range-partitioned frame is ``localCheckpoint``-ed before use:
    its two consumers (the per-partition offsets aggregate and the
    main frame) would otherwise evaluate ``repartitionByRange`` +
    ``spark_partition_id`` INDEPENDENTLY — and range boundaries come
    from sampling, so the two evaluations can assign rows to
    different partition ids, after which the inner join on ``__pid``
    silently drops every row whose main-side pid had no offsets row.
    The carve_blocks scale gate caught exactly that at 70k docs with
    a skewed id space (96% of tokens vanished); the checkpoint pins
    ONE partitioning for both consumers. At 100 TB the materialization
    is real but unavoidable — any two-pass prefix sum must agree with
    itself on the partition layout."""
    d = (
        df.repartitionByRange(F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_local = Window.partitionBy("__pid").orderBy(F.col(id_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("__pid")
        .agg(F.sum(value_col).alias("__tot"))
        .select(
            "__pid",
            F.coalesce(F.sum("__tot").over(w_off), F.lit(0).cast("bigint")).alias(
                "__off"
            ),
        )
    )
    local_before = F.coalesce(
        F.sum(value_col).over(w_local), F.lit(0).cast("bigint")
    )
    return (
        d.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, local_before + F.col("__off"))
        .drop("__pid", "__off")
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    stratum_col: str | None = None,
) -> DataFrame:
    """(…, pack_id, pack_offset) — documents assigned to token-budget
    packs in ``id_col`` order (optionally per stratum).

    pack_id = floor(running-sum-before-this-doc / budget). With a
    stratum the running sum is one per-stratum window over one shuffle.
    Without one it is a DISTRIBUTED two-pass prefix sum — never a
    single-partition global window: range-partition by id, running sum
    within each partition, then add each partition's cumulative offset
    (a partition-count-sized frame — the only single-partition window
    runs over that, not the data). The result is identical to the
    global-window formula because the prefix sum in id order does not
    depend on where partition boundaries fall (``id_col`` must be
    unique — with duplicate ids the within-tie order is undefined
    either way). See module doc for the overflow-by-one-document
    trade-off vs a sequential greedy.
    """
    if stratum_col:
        w = Window.partitionBy(stratum_col).orderBy(F.col(id_col)).rowsBetween(
            Window.unboundedPreceding, -1
        )
        before = F.coalesce(F.sum(token_col).over(w), F.lit(0).cast("bigint"))
    else:
        df = global_prefix_sum(df, token_col, id_col)
        before = F.col("__before")
    out = df.select(
        "*",
        F.floor(before / budget_tokens).cast("int").alias("pack_id"),
        (before % budget_tokens).cast("bigint").alias("pack_offset"),
    )
    return out.drop("__before")


def weighted_sample_k(
    df: DataFrame,
    k: int,
    key_col: str,
    weight_col: str,
    rank_col: str = "sample_rank",
    stratum_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Vitter-Spirakis A-ES): keep the ``k`` rows with the
    smallest ``-ln(u)/w`` where ``u`` is a pure-hash uniform of the
    key and ``w`` the row's weight — each row's inclusion probability
    is proportional to its weight, reproducible across engines, runs,
    and partitionings (no ``rand()``).

    ``u`` is the same multiplicative key hash the stratified sampler
    uses, shifted by +1 into (0, 2³²] so ``ln`` never sees zero. The
    exponential key ``-ln(u/2³²)/w`` is one codegen expression; the
    global top-k compiles to TakeOrdered semantics through the same
    WindowGroupLimit pre-limit as ``topk_per_stratum`` (a constant
    stratum), so map tasks ship k rows each, never the corpus. Rows
    with non-positive or null weight are excluded (zero-weight items
    have zero inclusion probability).

    ``stratum_col`` draws ``k`` rows per stratum instead of globally
    (weighted quota per language/domain) — same exponential keys, the
    rank window just partitions by the stratum.

    Cross-engine caveat: ``ln`` is correctly rounded on both engines
    but the quotient is one more rounding step; two candidates whose
    keys collide within 1 ulp could swap ranks across engines. With
    hash-spread uniforms the collision probability is ~2⁻⁵² per pair —
    the three-sf oracle sweep pins it empirically.
    """
    folded = F.pmod(F.col(key_col), F.lit(2147483648))
    u = F.pmod(folded * F.lit(_KNUTH), F.lit(_MOD)) + F.lit(1)
    es_key = -F.ln(u.cast("double") / F.lit(4294967296.0)) / F.col(weight_col).cast(
        "double"
    )
    w = (
        Window.partitionBy(stratum_col) if stratum_col is not None else Window
    ).orderBy(es_key.asc(), F.col(key_col).asc())
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def build_vocab(
    df: DataFrame,
    vocab_size: int = 32768,
    text_col: str = "text",
) -> DataFrame:
    """Frequency-ranked token vocabulary: (token, token_id) with ids
    0..vocab_size-1 assigned most-frequent-first (ties by token text,
    so the mapping is deterministic across engines and runs).

    One partial-aggregable token count, then TakeOrdered top-k — the
    vocabulary never sorts globally and the result is model-sized.
    This is the word-level stand-in for a trained subword vocab; the
    encoding contract (``encode_tokens``) is identical either way.
    """
    toks = df.select(
        F.explode(
            F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("token")
    ).filter(F.length("token") >= 1)
    counts = toks.groupBy("token").agg(F.count("*").alias("__n"))
    top = counts.orderBy(F.col("__n").desc(), F.col("token").asc()).limit(vocab_size)
    w = Window.orderBy(F.col("__n").desc(), F.col("token").asc())
    # The window orders the limit-bounded top-k, never the vocabulary.
    return top.select(
        "token", (F.row_number().over(w) - 1).cast("int").alias("token_id")
    )


def encode_tokens(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = -1,
) -> DataFrame:
    """Encode documents to (id, pos, token_id) rows against ``vocab``
    — the corpus-to-token-ids pass that feeds sequence packing and
    shard writes. Out-of-vocabulary tokens get ``oov_id``.

    Zero corpus shuffles: tokenization + posexplode are map-side, the
    vocab join is a broadcast hash join (the vocab is model-sized by
    construction), and the output can stream straight to a sharded
    sink. At 100 TB this pass is scan-bound, exactly as it should be.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("pos", "token"),
    ).filter(F.length("token") >= 1)
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .select(
            "id",
            "pos",
            F.coalesce("token_id", F.lit(oov_id)).cast("int").alias("token_id"),
        )
    )


def unigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    logp_decimals: int = 6,
) -> DataFrame:
    """CCNet-style language-model quality scoring with a unigram LM
    trained on the corpus itself: per document (id, n_tokens, nll,
    ppl) where ``nll`` is the mean negative log-likelihood of the
    document's tokens under the corpus unigram distribution and
    ``ppl = exp(nll)``. Low-perplexity documents look like the corpus
    (boilerplate, templated text); high-perplexity ones are noise —
    both tails are what a quality filter trims (CCNet buckets on
    exactly this score, with a 5-gram KenLM where this uses the
    relational unigram analog).

    Plan shape (two passes over term frequencies, never raw tokens):
    tokenize → per-(doc, token) hash count ``tf`` (the only corpus
    shuffle, payload one long) → the LM is ``tf`` re-aggregated by
    token (map-side partial over the same exchange) → score by joining
    the per-doc term vector against the LM on token and summing
    ``tf × log p(token)``. The token join is a plain hash join — at
    100 TB the LM (vocabulary-sized) is usually broadcastable, but
    that is left to AQE since a web-scale vocabulary can exceed the
    broadcast threshold.

    Determinism across engines: each token's log-probability is
    rounded to ``logp_decimals`` and cast to DECIMAL before the
    weighted sum, so the per-document sum is exact integer-scaled
    arithmetic — order-independent and bit-identical in any engine
    (a raw double sum would be partitioning-dependent). The only
    float step is one ln()/exp() per vocabulary entry / document on
    identical inputs (the q61 1-ulp rationale). Documents with zero
    tokens are dropped (no likelihood is defined for them).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
        ).alias("token"),
    ).filter(F.length("token") >= 1)
    tf = toks.groupBy("id", "token").agg(F.count("*").alias("tf"))
    # Without materialization the lazy DAG recomputes ``tf`` for every
    # downstream branch (LM, total, scoring) — three corpus scans.
    # Checkpointing the VOCABULARY-sized (token, cnt) table makes it the
    # honest two passes of the CCNet recipe: one scan to train the LM,
    # one to score against it.
    lm = tf.groupBy("token").agg(F.sum("tf").alias("cnt")).localCheckpoint()
    total = lm.agg(F.sum("cnt").alias("__total"))
    # round_c here too (not just on nll/ppl): a single vocabulary
    # token whose ln(cnt/total)·10^d product straddles .5 would shift
    # logp by 1e-6 in every containing document's sum.
    logp = lm.crossJoin(F.broadcast(total)).select(
        "token",
        round_c(
            F.log(F.col("cnt").cast("double") / F.col("__total").cast("double")),
            logp_decimals,
        )
        .cast(f"decimal(18,{logp_decimals})")
        .alias("logp"),
    )
    scored = (
        tf.join(logp, "token")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf").cast("decimal(18,0)") * F.col("logp")).alias("__slp"),
        )
    )
    # round_c, not F.round: F.round rounds the double's shortest
    # decimal repr while DuckDB (and C-library engines) round the
    # x·10^n double product — the two disagree when the product lands
    # exactly on a .5 boundary (caught live by the r13 sf1 decade
    # sweep: doc with slp = -88.873629, n = 26 → product exactly
    # 3418216.5). round_c makes every step IEEE-identical.
    nll = round_c(-F.col("__slp").cast("double") / F.col("n_tokens"), 6)
    return scored.select(
        F.col("id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        nll.alias("nll"),
        round_c(F.exp(nll), 4).alias("ppl"),
    )


def mixture_sample(
    df: DataFrame,
    targets: dict[str, float],
    k: int,
    key_col: str,
    domain_col: str = "source",
) -> DataFrame:
    """Deterministic corpus mixture re-weighting (the DoReMi-style
    static mixture step): sample so domain ``d`` contributes
    ≈ ``k × w_d`` documents, where ``w_d`` is ``targets[d]``
    normalized. Domains absent from ``targets`` are dropped; a domain
    too small to fill its quota is taken whole (rate caps at 10⁶ ppm).

    Plan shape: one domain-cardinality count aggregate (rows =
    |domains|, a model-sized frame), rates derived on it, then the
    ``hash_sample`` broadcast-join filter — the corpus itself never
    shuffles, and the per-row keep decision is the same pure key hash,
    so re-running with a larger ``k`` yields a superset per domain.

    Rates are parts-per-MILLION, clamped to ≥ 1: per-mille floored to
    zero whenever a domain's size exceeded 1000·k·w (e.g. k=100,
    w=0.1, n=20000 → 0‰ — the domain silently vanished from the
    sample). At ppm granularity the same case keeps rate 500, and the
    ≥1 clamp guarantees every targeted non-empty domain contributes
    (slightly over-sampling domains larger than 10⁶·k·w rather than
    dropping them).

    Weights normalize in Python so the per-domain rate expression
    ``floor(10⁶·k·w / n)`` sees identical double literals in any
    engine replaying it.
    """
    if k <= 0 or not targets:
        raise ValueError("mixture_sample needs k > 0 and non-empty targets")
    total_w = float(sum(targets.values()))
    spark = df.sparkSession
    tgt = literal_frame(
        spark,
        [(d, w / total_w) for d, w in sorted(targets.items())],
        f"{domain_col} string, __w double",
    )
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n"))
    rates = counts.join(F.broadcast(tgt), domain_col).select(
        domain_col,
        F.least(
            F.lit(1_000_000).cast("bigint"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(
                    F.lit(1_000_000.0 * k) * F.col("__w") / F.col("__n")
                ),
            ),
        ).cast("int").alias("rate_ppm"),
    )
    return hash_sample(
        df, rates, key_col=key_col, stratum_col=domain_col,
        rate_col="rate_ppm", denom=1_000_000,
    )


def temperature_sample(
    df: DataFrame,
    alpha: float,
    k: int,
    key_col: str,
    domain_col: str = "source",
) -> DataFrame:
    """Temperature-based mixture sampling (the multilingual-T5 /
    XLM-R exponential-smoothing regime, Conneau et al. 2020 §3.1):
    domain ``d`` is sampled with weight ``w_d ∝ n_d^α``, α ∈ (0, 1]
    — α = 1 reproduces natural proportions, α → 0 flattens toward
    uniform, upweighting low-resource domains WITHOUT a hand-written
    target table (the complementary operator to ``mixture_sample``,
    which takes explicit DoReMi-style targets).

    The weights derive from the corpus itself: one domain-cardinality
    aggregate (model-sized), ``n^α`` per domain rounded through
    ``round_c(·,6)`` → DECIMAL(28,6) so the normalizing sum is exact
    and partitioning-independent, a 1-row broadcast total, then the
    same clamped ppm rate + ``hash_sample`` pure-key filter as
    ``mixture_sample`` — the corpus never shuffles, keep decisions
    are stable under re-runs, and a larger ``k`` yields a per-domain
    superset. Every arithmetic step is written identically in the
    SQL twin (pow's ≤1-ulp engine drift is absorbed by the 1e-6
    rounding grid)."""
    if k <= 0 or not 0 < alpha <= 1:
        raise ValueError("temperature_sample needs k > 0 and 0 < alpha <= 1")
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n"))
    pa = round_c(
        F.pow(F.col("__n").cast("double"), F.lit(float(alpha))), 6
    ).cast("decimal(28,6)")
    weighted = counts.select(domain_col, "__n", pa.alias("__pa"))
    total = weighted.agg(F.sum("__pa").alias("__tot"))
    rates = weighted.crossJoin(F.broadcast(total)).select(
        domain_col,
        F.least(
            F.lit(1_000_000).cast("bigint"),
            F.greatest(
                F.lit(1).cast("bigint"),
                F.floor(
                    F.lit(1_000_000.0 * k)
                    * (F.col("__pa").cast("double") / F.col("__tot").cast("double"))
                    / F.col("__n")
                ),
            ),
        ).cast("int").alias("rate_ppm"),
    )
    return hash_sample(
        df, rates, key_col=key_col, stratum_col=domain_col,
        rate_col="rate_ppm", denom=1_000_000,
    )


def domain_quota_sample(
    df: DataFrame,
    budget: int,
    key_col: str,
    domain_col: str = "source",
    order_col: str = "n_chars",
    alpha: float = 0.5,
    min_keep: int = 1,
) -> DataFrame:
    """Exact-budget per-domain quota enforcement (the Dolma/RefinedWeb
    mix-construction step): allocate a TOTAL document budget across
    domains proportionally to ``n_d^α`` with largest-remainder
    rounding (so quotas sum exactly to ``budget``), then keep each
    domain's best ``quota`` documents by ``order_col``.  The
    complementary operator to ``temperature_sample``: that one is
    rate-based (expected counts, pure-hash keep), this one is
    exact-count (rank-based, deterministic cardinality) — the form a
    curated-release pipeline needs when the datasheet promises "N
    documents, X% per source".

    Scale shape: the allocation frame is ONE ROW PER DOMAIN
    (model-sized — the single-partition windows over it are free);
    the corpus-side work is one broadcast join of the quota table
    plus one per-domain rank window — a per-partition sort after one
    shuffle on the domain key, never a global sort (the quota is a
    column, so WindowGroupLimit can't prune here; at 100 TB the
    shuffle could additionally pre-filter on a broadcast max-quota
    literal to regain the group-limit prune).  No collect, no cross
    join.

    Determinism: ``n^α`` rounds through ``round_c(·,9)`` → DECIMAL
    before the normalizing sum; the ideal/floor/remainder arithmetic
    is written identically in the SQL twin; remainder ties break by
    domain name, keep ties by ``key_col``.

    Output: (domain, key, order, quota, pick_rank) for kept rows.
    """
    if budget <= 0 or not 0 < alpha <= 1 or min_keep < 0:
        raise ValueError(
            "domain_quota_sample needs budget > 0, 0 < alpha <= 1, "
            "min_keep >= 0"
        )
    counts = df.groupBy(domain_col).agg(F.count("*").alias("__n"))
    pa = round_c(
        F.pow(F.col("__n").cast("double"), F.lit(float(alpha))), 9
    ).cast("decimal(38,9)")
    weighted = counts.select(domain_col, "__n", pa.alias("__pa"))
    total = weighted.agg(F.sum("__pa").alias("__tot"))
    ideal = F.lit(float(budget)) * (
        F.col("__pa").cast("double") / F.col("__tot").cast("double")
    )
    based = (
        weighted.crossJoin(F.broadcast(total))
        .select(
            domain_col,
            "__n",
            F.floor(ideal).cast("bigint").alias("__base"),
            (ideal - F.floor(ideal)).alias("__rem"),
        )
    )
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wrank = Window.orderBy(F.col("__rem").desc(), F.col(domain_col))
    quotas = based.select(
        domain_col,
        "__n",
        "__base",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.lit(budget) - F.sum("__base").over(wall),
        ).alias("__deficit"),
        F.row_number().over(wrank).cast("bigint").alias("__rk"),
    ).select(
        domain_col,
        "__n",
        F.least(
            F.col("__n"),
            F.greatest(
                F.lit(min_keep).cast("bigint"),
                F.col("__base")
                + F.when(F.col("__rk") <= F.col("__deficit"), 1)
                .otherwise(0)
                .cast("bigint"),
            ),
        ).alias("quota"),
    )
    wpick = Window.partitionBy(domain_col).orderBy(
        F.col(order_col).desc(), F.col(key_col)
    )
    return (
        df.select(domain_col, key_col, order_col)
        .join(F.broadcast(quotas.select(domain_col, "quota")), domain_col)
        .select(
            domain_col,
            key_col,
            order_col,
            "quota",
            F.row_number().over(wpick).cast("bigint").alias("pick_rank"),
        )
        .filter(F.col("pick_rank") <= F.col("quota"))
    )


def _adjacent_pair_events(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, prev, cur) adjacent-token transition rows, map-side from
    each document's token array, PLUS one last-token sentinel row per
    doc (``cur`` NULL). With the sentinels, "occurrences of w as prev"
    equals the plain token count of w — so bigram counts, unigram
    counts and the corpus total all derive from this ONE table and the
    corpus is never re-scanned for final tokens. Shared foundation of
    ``bigram_lm_scores`` and ``pmi_collocations``."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(
            normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " "
        ).alias("__t"),
    ).withColumn("__t", F.filter("__t", lambda t: F.length(t) >= 1))
    n = F.size("__t")
    pairs = toks.select(
        "id",
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, n - 1).alias("prev"),
                F.slice("__t", 2, n - 1).alias("cur"),
            )
        ).alias("p"),
    ).select("id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    lasts = toks.filter(n >= 1).select(
        "id",
        F.element_at("__t", -1).alias("prev"),
        F.lit(None).cast("string").alias("cur"),
    )
    return pairs.unionByName(lasts)


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 100,
    pmi_decimals: int = 6,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (Church & Hanks 1990) — the classic corpus-analytics companion of
    the LM operators: PMI(v,w) = ln c(vw) + ln N − ln c(v) − ln c(w),
    computed as a SUM of logs (never a product of counts — immune to
    BIGINT overflow at any corpus scale and replayable term-for-term
    in SQL).

    One corpus-scale aggregation total: the (prev, cur) transition
    rows (with last-token sentinels, see ``_adjacent_pair_events``)
    collapse to a vocabulary²-bounded global pair table, checkpointed
    once; bigram counts, unigram counts and N all fold from it
    map-side, so the three model tables cost vocabulary-scale, not
    corpus-scale. The final top-k is a TakeOrdered over the pair
    table with a total ordering (rounded PMI desc, count desc, then
    words asc) — deterministic under ties, no full sort materialized.

    Output: ``w1, w2, pair_count, pmi`` (rounded), strongest first.
    """
    g = (
        _adjacent_pair_events(df, text_col, id_col)
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c"))
        # one corpus pass: big/uni/N all fold from the checkpoint
        .localCheckpoint()
    )
    big = g.filter(F.col("cur").isNotNull()).select(
        "prev", "cur", F.col("c").alias("c2")
    )
    uni = g.groupBy(F.col("prev").alias("tok")).agg(F.sum("c").alias("c1"))
    total = uni.agg(F.sum("c1").alias("__n"))
    pmi = round_c(
        F.log(F.col("c2").cast("double"))
        + F.log(F.col("__n").cast("double"))
        - F.log(F.col("c1p").cast("double"))
        - F.log(F.col("c1c").cast("double")),
        pmi_decimals,
    )
    return (
        big.filter(F.col("c2") >= min_count)
        .join(
            uni.select(F.col("tok").alias("prev"), F.col("c1").alias("c1p")),
            "prev",
        )
        .join(
            uni.select(F.col("tok").alias("cur"), F.col("c1").alias("c1c")),
            "cur",
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("prev").alias("w1"),
            F.col("cur").alias("w2"),
            F.col("c2").cast("long").alias("pair_count"),
            pmi.alias("pmi"),
        )
        .orderBy(
            F.col("pmi").desc(), F.col("pair_count").desc(), "w1", "w2"
        )
        .limit(k)
    )


def _doc_lines(col: Column) -> Column:
    """Trimmed non-empty line array of a page column."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(col, F.lit("")), "\n"), lambda l: F.trim(l)
        ),
        lambda l: F.length(l) > 0,
    )


def _first_occurrence_lines(lines: Column) -> Column:
    """Keep only each line's first occurrence, preserving order.
    ``flet``-bound: ``array_position(lines, l)`` inside the lambda
    would otherwise re-evaluate the split+trim+filter chain PER LINE."""
    from ..functions.exprs import flet  # noqa: PLC0415

    return flet(
        lines,
        lambda ls: F.filter(
            ls, lambda l, i: F.array_position(ls, l) == i + 1
        ),
    )


def dedup_lines_text(col: Column) -> Column:
    """Expression form of ``dedup_lines_within_doc`` for pipeline use:
    the page with later duplicate-line occurrences removed."""
    return F.array_join(_first_occurrence_lines(_doc_lines(col)), "\n")


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    frac_decimals: int = 6,
) -> DataFrame:
    """Within-document repeated-line removal — the REWRITE counterpart
    of the Gopher duplicate-line *metrics* (``repetition_metrics``):
    drop every later occurrence of a duplicated (trimmed, non-empty)
    line, keeping first occurrences in order. Standard intra-page
    cleanup in web-crawl pipelines (boilerplate nav/footer lines
    repeat within a page long before they repeat across pages).

    Pure codegen, zero data movement: the line array never leaves its
    row — first-occurrence testing is ``array_position(lines, l) ==
    i+1`` inside a higher-order filter (O(lines²) per doc, trivially
    bounded by page size). Contrast with ``corpus_line_dedup`` (q52),
    which dedups lines ACROSS documents and must shuffle; at 100 TB
    this operator is a free rider on whatever scan precedes it.

    Output: ``id_col``, ``n_lines``, ``n_kept``, ``n_removed``,
    ``dup_line_fraction`` (removed/total, 0.0 for line-less docs),
    ``text`` (the deduplicated page).
    """
    lines = _doc_lines(F.col(text_col))
    kept = _first_occurrence_lines(lines)
    n_all = F.size(lines)
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        n_all.cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        (n_all - n_kept).cast("long").alias("n_removed"),
        F.when(n_all == 0, F.lit(0.0))
        .otherwise(
            round_c((n_all - n_kept) / n_all.cast("double"), frac_decimals)
        )
        .alias("dup_line_fraction"),
        F.array_join(kept, "\n").alias("text"),
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    logs_decimals: int = 6,
) -> DataFrame:
    """Bigram language-model quality scoring with Stupid Backoff
    (Brants et al. 2007, "Large Language Models in Machine
    Translation") — the web-scale upgrade of ``unigram_lm_scores``:
    S(w|v) = count(vw)/count(v) when the bigram was seen, else
    α·count(w)/N. Stupid Backoff is a SCORE, not a probability — it
    skips the per-context normalization pass entirely, which is
    precisely why Google chose it for trillion-token corpora and why
    it fits a relational engine: both model tables are plain hash
    aggregates, no discounting joins.

    Per document: the mean −log S over its token transitions
    (positions 2..n) and ``sb_ppl = exp`` of it; docs with < 2 tokens
    have no transitions and are OMITTED from the output (left-join the
    result back on the id to materialize NULL rows if the full corpus
    spine is needed). Unigrams unseen in training
    (never, when scoring the training corpus itself) back off to 1/N.

    Plan shape: ONE corpus pass total. Map-side, each document's token
    array yields its adjacent-pair rows plus a single last-token
    sentinel row (``cur`` NULL) — so per-doc pair frequencies, the
    bigram LM, the unigram LM (= all token occurrences: transition
    sources + sentinels) AND the corpus total all derive from one
    checkpointed (id, prev, cur, tf) table; the corpus is never re-scanned
    or re-tokenized. Scoring joins the per-doc pair vector against the
    model tables (AQE broadcasts them when small, SMJ at vocabulary
    scale — no hints). Per-transition log-scores round to DECIMAL
    before the weighted sum — order-independent, engine-exact (the
    unigram_lm_scores determinism contract).
    """
    ptf = (
        _adjacent_pair_events(df, text_col, id_col)
        .groupBy("id", "prev", "cur")
        .agg(F.count("*").alias("tf"))
        # FOUR consumers (bigram LM, unigram LM, corpus total,
        # scoring); the checkpoint makes it one corpus pass.
        .localCheckpoint()
    )
    transitions = ptf.filter(F.col("cur").isNotNull())
    big = transitions.groupBy("prev", "cur").agg(F.sum("tf").alias("c2"))
    uni = ptf.groupBy(F.col("prev").alias("tok")).agg(F.sum("tf").alias("c1"))
    total = uni.agg(F.sum("c1").alias("__n"))
    dec = f"decimal(18,{logs_decimals})"
    scored = (
        transitions.join(big, ["prev", "cur"], "left")
        .join(
            uni.select(F.col("tok").alias("prev"), F.col("c1").alias("c1p")),
            "prev",
            "left",
        )
        .join(
            uni.select(F.col("tok").alias("cur"), F.col("c1").alias("c1c")),
            "cur",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "id",
            "tf",
            round_c(
                F.when(
                    F.col("c2").isNotNull(),
                    F.log(
                        F.col("c2").cast("double") / F.col("c1p").cast("double")
                    ),
                ).otherwise(
                    F.lit(float(__import__("math").log(alpha)))
                    + F.log(
                        F.coalesce(F.col("c1c"), F.lit(1)).cast("double")
                        / F.col("__n").cast("double")
                    )
                ),
                logs_decimals,
            )
            .cast(dec)
            .alias("logs"),
        )
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_transitions"),
            F.sum(F.col("tf").cast("decimal(18,0)") * F.col("logs")).alias("__sl"),
        )
    )
    # The per-doc mean rounds in EXACT INTEGER arithmetic: __sl is a
    # scale-6 decimal, so -__sl*1e6 is an exact BIGINT of log-micros
    # and half-up rounding of micros/n is (2x + n) div (2n) — bit-
    # identical in any engine. round(double, 6) here instead would
    # diverge across engines when the true quotient sits exactly on a
    # half boundary (Spark rounds the double's full binary expansion,
    # DuckDB rounds a scaled multiply — observed on 1 doc in 5,000 at
    # sf0.1).
    withx = scored.withColumn(
        "__x", (-F.col("__sl") * 1_000_000).cast("long")
    )
    nls = (
        F.expr("(2 * __x + n_transitions) div (2 * n_transitions)")
        / F.lit(1000000.0)
    )
    return withx.select(
        F.col("id").alias(id_col),
        F.col("n_transitions").cast("long").alias("n_transitions"),
        nls.alias("neg_logscore"),
        round_c(F.exp(nls), 4).alias("sb_ppl"),
    )


def kneser_ney_scores(
    df: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
    logs_decimals: int = 6,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram perplexity scoring (Kneser &
    Ney 1995; the CCNet/KenLM filtering regime) — the smoothed member
    of the LM-quality family (unigram qx11, Stupid Backoff qx21):

        P(w|v) = max(c(vw) − D, 0)/c(v·)
                 + D·N1+(v·)/c(v·) · Pcont(w)
        Pcont(w) = (N1+(·w) + 1) / (N1+(··) + V + 1)

    with fixed discount ``D``; the continuation distribution is
    add-one smoothed over the vocabulary (V = distinct train tokens
    participating in transitions, +1 OOV mass) so held-out tokens
    never produce log 0. A context unseen in training
    (c(v·) = 0) falls back to ``Pcont(w)`` alone (λ = 1). Unlike
    Stupid Backoff this is a true interpolated probability — the
    continuation mass is added for SEEN bigrams too, which is what
    makes KN the stronger held-out scorer.

    ``train`` and ``df`` may differ (the held-out-scoring shape) or
    be the same corpus. Model tables are plain hash aggregates over
    the shared adjacent-pair foundation — bigram counts, context
    totals and both N1+ diversity counts all come from the SAME
    distinct-bigram table (one groupBy each, model-sized); the two
    scalars (distinct bigram types, vocabulary) ride a broadcast
    1-row frame. Scoring joins the per-doc transition vector against
    the model (AQE broadcasts small models). Per-transition log-probs
    round to DECIMAL before the tf-weighted exact sum; the per-doc
    mean uses the same integer half-up arithmetic as
    ``bigram_lm_scores`` — partitioning- and engine-independent.
    Docs with < 2 tokens have no transitions and are omitted, as in
    ``bigram_lm_scores``.
    """
    d_lit = F.lit(float(discount))
    tr = (
        _adjacent_pair_events(train, text_col, id_col)
        .filter(F.col("cur").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("c2"))
    )
    ctx = tr.groupBy("prev").agg(
        F.sum("c2").alias("cvdot"), F.count("*").alias("n1fwd")
    )
    back = tr.groupBy("cur").agg(F.count("*").alias("n1back"))
    scalars = tr.agg(F.count("*").alias("n1all")).crossJoin(
        tr.select(F.col("prev").alias("tok"))
        .union(tr.select(F.col("cur").alias("tok")))
        .agg(F.count_distinct("tok").alias("vocab"))
    )

    ptf = (
        _adjacent_pair_events(df, text_col, id_col)
        .filter(F.col("cur").isNotNull())
        .groupBy("id", "prev", "cur")
        .agg(F.count("*").alias("tf"))
    )
    pcont = (F.coalesce(F.col("n1back"), F.lit(0)) + 1).cast("double") / (
        F.col("n1all") + F.col("vocab") + 1
    ).cast("double")
    main = F.when(
        F.col("cvdot").isNotNull(),
        F.greatest(
            F.coalesce(F.col("c2"), F.lit(0)).cast("double") - d_lit, F.lit(0.0)
        )
        / F.col("cvdot").cast("double"),
    ).otherwise(F.lit(0.0))
    lam = F.when(
        F.col("cvdot").isNotNull(),
        d_lit * F.col("n1fwd").cast("double") / F.col("cvdot").cast("double"),
    ).otherwise(F.lit(1.0))
    dec = f"decimal(18,{logs_decimals})"
    scored = (
        ptf.join(tr, ["prev", "cur"], "left")
        .join(ctx, "prev", "left")
        .join(back, "cur", "left")
        .crossJoin(F.broadcast(scalars.select("n1all", "vocab")))
        .select(
            "id",
            "tf",
            round_c(F.log(main + lam * pcont), logs_decimals)
            .cast(dec)
            .alias("logp"),
        )
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_transitions"),
            F.sum(F.col("tf").cast("decimal(18,0)") * F.col("logp")).alias("__sl"),
        )
    )
    withx = scored.withColumn("__x", (-F.col("__sl") * 1_000_000).cast("long"))
    nlp = (
        F.expr("(2 * __x + n_transitions) div (2 * n_transitions)")
        / F.lit(1000000.0)
    )
    return withx.select(
        F.col("id").alias(id_col),
        F.col("n_transitions").cast("long").alias("n_transitions"),
        nlp.alias("neg_logprob"),
        round_c(F.exp(nlp), 4).alias("kn_ppl"),
    )


def carve_blocks(
    df: DataFrame,
    block_tokens: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
    eos_token: str = "<eos>",
) -> DataFrame:
    """GPT-style pre-training example carving: concatenate the
    normalized documents in ``id_col`` order, an ``eos_token`` after
    each, and cut the stream into consecutive ``block_tokens``-token
    blocks — documents SPAN block boundaries (the "concat and chunk"
    regime of GPT/Llama data loaders), unlike ``chunk_documents``
    (per-document windows) and ``pack_sequences`` (whole-document
    budget packing).

    Distributed shape: each document learns its global [start, end)
    token offset from the two-pass exclusive prefix sum
    (``global_prefix_sum`` — no data-sized single-partition window),
    computes the ≤ ⌈tokens/B⌉+1 block ids it overlaps with pure
    arithmetic, and ships one (block, start, fragment) row per
    overlap; blocks assemble with one hash aggregate whose payload is
    bounded by ``block_tokens``. Token-less documents contribute
    nothing (no bare-EOS blocks). Returns (block_id, n_tokens,
    n_docs, text); every block is exactly ``block_tokens`` long
    except the final remainder.
    """
    toks_raw = F.split(normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " ")
    toks_raw = F.filter(toks_raw, lambda t: F.length(t) >= 1)
    with_eos = F.concat(toks_raw, F.array(F.lit(eos_token)))
    base = (
        df.select(
            F.col(id_col).alias("__id"),
            with_eos.alias("__toks"),
        )
        .filter(F.size("__toks") > 1)  # token-less docs carry only EOS
        .withColumn("__n", F.size("__toks").cast("bigint"))
    )
    base = global_prefix_sum(base, "__n", "__id")
    start = F.col("__before")
    end = start + F.col("__n")
    b = F.lit(block_tokens).cast("bigint")
    spans = base.select(
        "__id",
        "__toks",
        start.alias("__start"),
        end.alias("__end"),
        F.explode(
            F.sequence(F.floor(start / b), F.floor((end - 1) / b))
        ).alias("block_id"),
    )
    s = F.greatest(F.col("__start"), F.col("block_id") * b)
    e = F.least(F.col("__end"), (F.col("block_id") + 1) * b)
    frag = F.slice(
        F.col("__toks"),
        (s - F.col("__start") + 1).cast("int"),
        (e - s).cast("int"),
    )
    return (
        spans.select(
            F.col("block_id").cast("long").alias("block_id"),
            F.col("__start").alias("__s"),
            frag.alias("__frag"),
        )
        .groupBy("block_id")
        .agg(
            F.sum(F.size("__frag")).cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_docs"),
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("__s"), F.col("__frag")))
                        ),
                        lambda r: r["__frag"],
                    )
                ),
                " ",
            ).alias("text"),
        )
    )


def quality_blend(
    df: DataFrame,
    signal_cols: list[str],
    id_col: str = "doc_id",
    n_buckets: int = 10,
    out_decimals: int = 6,
) -> DataFrame:
    """Percentile-rank fusion of quality signals: each signal maps to
    its corpus quantile bucket (0..n_buckets−1) and the blend is the
    mean bucket fraction — how FineWeb-style pipelines combine
    incommensurable signals (a heuristic score, an entropy, a length)
    without hand-tuned scales.

    Scale shape: NO global sort (a per-signal percent_rank would be
    one corpus sort each). Instead one aggregate computes each
    signal's interior cut points — and a broadcast 1-row cross join
    carries them back; the bucket index is ``#cuts ≤ x``, a pure
    array expression. One scan + one model-sized aggregate total,
    any number of signals.

    Cut points are exact interpolated percentiles (the
    ``quantile_cont`` parity q38 established).

    Rows with a NULL signal get NULL for that bucket and are excluded
    from the blend mean (blend NULL only if ALL signals are NULL).

    Cross-engine cut robustness: signals live on the 1e-6 rounding
    lattice, so every TRUE interior cut point (a + g·(b−a) with g a
    tenth) lies on the 1e-7 lattice — but each engine computes the
    interpolation with its own IEEE operation order, so computed cuts
    can differ by an ulp around a value that EQUALS a signal, flipping
    that row's bucket (caught live by the r13 sf1 decade sweep: one
    doc of 50k). The bucket compare therefore allows a half-lattice
    tolerance (``cut ≤ x + 5e-8``): it absorbs any few-ulp
    interpolation error without ever reaching the next lattice point,
    and the oracle applies the identical epsilon. The lattice argument
    needs the interior fractions to be exact decimals — n_buckets with
    only 2s and 5s in its factorization (10 default, 2, 4, 5, 20…);
    for any other bucket count a true cut can legitimately sit within
    the epsilon of a signal, so the tolerance is disabled there
    (reverting to the raw compare and its ulp exposure).
    """
    nb = n_buckets
    for f in (2, 5):
        while nb % f == 0:
            nb //= f
    cut_epsilon = 5e-8 if nb == 1 else 0.0
    fracs = [i / n_buckets for i in range(1, n_buckets)]

    cuts = df.agg(
        *[F.percentile(F.col(c), F.lit(fracs)).alias(f"__cut_{c}") for c in signal_cols]
    )
    out = df.join(F.broadcast(cuts))
    bexprs = {
        c: F.when(
            F.col(c).isNotNull(),
            F.size(
                F.filter(
                    F.col(f"__cut_{c}"),
                    lambda t: t <= F.col(c) + F.lit(cut_epsilon),
                )
            ),
        )
        for c in signal_cols
    }
    n_present = sum(b.isNotNull().cast("int") for b in bexprs.values())
    blend = F.when(
        n_present > 0,
        round_c(
            sum(
                F.coalesce(b.cast("double") / (n_buckets - 1), F.lit(0.0))
                for b in bexprs.values()
            )
            / n_present,
            out_decimals,
        ),
    )
    return out.select(
        F.col(id_col),
        *[b.alias(f"{c}_bucket") for c, b in bexprs.items()],
        blend.alias("blend"),
    )


def quantile_normalize(
    df: DataFrame,
    source_col: str,
    score_col: str,
    out_col: str = "normalized_score",
) -> DataFrame:
    """Cross-source quantile normalization: map each score to the
    POOLED distribution's value at its within-source quantile —
    ``out = Q_pool(F_source(x))`` — so scores from scorers with
    different calibrations (one clusters at 0.9, another at 0.4)
    become comparable before fusion (the microarray-normalization
    classic, Bolstad et al. 2003, applied to quality scores; the
    distribution-alignment step `blend_quality_signals` assumes).

    Exact arithmetic both engines: within-source quantile is
    ``(rank−1)/(n−1)`` from explicit ``rank()``/``count()`` windows
    (NOT ``percent_rank`` — its single-row edge is engine-defined;
    n = 1 pins to 0), the pooled quantile function interpolates
    between the two neighboring order statistics exactly like
    ``percentile_cont``, and every step is the same IEEE expression
    in the DuckDB twin.

    Shape: one per-source window (shuffle on source), ONE global sort
    for the pooled order statistics, two index-keyed join-backs.
    """
    src_w = Window.partitionBy(source_col).orderBy(score_col)
    n_w = Window.partitionBy(source_col)
    # Keep EVERY input column: callers need row identity (doc_id) to
    # use the normalized score — a (source, score)-only output would
    # duplicate documents on join-back whenever scores tie.
    ranked = df.withColumn("__rk", F.rank().over(src_w)).withColumn(
        "__n", F.count("*").over(n_w)
    )
    r = F.when(F.col("__n") == 1, F.lit(0.0)).otherwise(
        (F.col("__rk") - 1).cast("double") / (F.col("__n") - 1).cast("double")
    )

    pool_w = Window.orderBy(score_col, source_col)
    pooled = df.select(source_col, score_col).select(
        F.row_number().over(pool_w).alias("__i"),
        F.col(score_col).alias("__v"),
    )
    n_pool = pooled.agg(F.count("*").alias("__np"))

    pos = r * (F.col("__np") - 1).cast("double")
    lo = F.floor(pos).cast("long") + 1
    frac = pos - F.floor(pos)
    keyed = (
        ranked.crossJoin(F.broadcast(n_pool))
        .withColumn("__lo", lo)
        .withColumn("__hi", F.least(lo + 1, F.col("__np")))
        .withColumn("__frac", frac)
    )
    vlo = pooled.select(F.col("__i").alias("__lo"), F.col("__v").alias("__vlo"))
    vhi = pooled.select(F.col("__i").alias("__hi"), F.col("__v").alias("__vhi"))
    from ..functions.numeric import round_c

    return (
        keyed.join(vlo, "__lo")
        .join(vhi, "__hi")
        .select(
            *df.columns,
            round_c(
                F.col("__vlo")
                + (F.col("__vhi") - F.col("__vlo")) * F.col("__frac"),
                6,
            ).alias(out_col),
        )
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 25,
    stopwords: tuple[str, ...] | None = None,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), fully relational:
    candidate phrases are maximal runs of content words between
    stopword/punctuation boundaries; each word scores
    ``degree/frequency`` (degree = summed length of the phrases its
    occurrences sit in — words that live in long multi-word phrases
    outrank equally frequent loners); a phrase scores the sum of its
    member word scores. The corpus-level keyword report next to
    TF-IDF top terms (row 74): TF-IDF needs a background corpus to
    contrast against, RAKE reads phrase structure from the corpus
    itself.

    Output: top ``top_k`` distinct phrases —
    (phrase, n_words, n_occurrences, score), score descending,
    phrase as tiebreak.

    Exactness: degree/frequency are exact BIGINT counts; each word
    score is one IEEE division rounded to 9dp, the phrase score an
    exact DECIMAL sum of those, rounded to 6dp — a SQL twin replays
    every step.

    Scale shape: boundary-marking is one codegen projection
    (punctuation becomes a literal ``|`` token); phrase ids are a
    per-document running sum over token position (one shuffle on
    doc id, total order by construction); then three hash aggregates
    (phrase assembly, word stats, phrase dedup) and a TakeOrdered
    top-k. No self-joins, no windows beyond the per-doc position
    scan."""
    from ..functions.text import STOPWORDS_EN

    stop = tuple(stopwords) if stopwords is not None else STOPWORDS_EN
    s = F.lower(F.coalesce(F.col(text_col).cast("string"), F.lit("")))
    # punctuation/symbols become an explicit boundary token; runs of
    # whitespace collapse via the non-empty filter after split
    marked = F.regexp_replace(s, r"[^a-z0-9 \t\n\f\r]+", " | ")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(marked, "[ \t\n\f\r]+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    is_boundary = (F.col("tok") == "|") | F.col("tok").isin(*stop)
    w = Window.partitionBy("id").orderBy("pos")
    tagged = toks.select(
        "id",
        "pos",
        "tok",
        F.sum(F.when(is_boundary, 1).otherwise(0)).over(w).alias("phrase_id"),
        is_boundary.alias("is_b"),
    ).filter(~F.col("is_b"))
    phrases = tagged.groupBy("id", "phrase_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("n_words"),
    )
    # per-occurrence word stats: freq = occurrences, degree = summed
    # length of the containing phrase per occurrence
    occ = tagged.join(
        phrases.select("id", "phrase_id", "n_words"), ["id", "phrase_id"]
    )
    word_scores = occ.groupBy("tok").agg(
        (
            F.sum("n_words").cast("double")
            / F.count("*").cast("double")
        ).alias("__ws")
    ).select("tok", round_c(F.col("__ws"), 9).alias("word_score"))
    phrase_scores = (
        occ.join(word_scores, "tok")
        .groupBy("id", "phrase_id")
        .agg(
            F.sum(F.col("word_score").cast("decimal(28,9)")).alias("__ps")
        )
        .join(phrases, ["id", "phrase_id"])
        .groupBy("phrase")
        .agg(
            F.min("n_words").alias("n_words"),
            F.count("*").alias("n_occurrences"),
            F.min("__ps").alias("__ps"),
        )
    )
    return (
        phrase_scores.select(
            "phrase",
            "n_words",
            "n_occurrences",
            round_c(F.col("__ps").cast("double"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(top_k)
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 20,
) -> DataFrame:
    """Vocabulary-growth curve (Heaps'-law audit): walk the corpus in
    ``id_col`` order, bucketed into ``n_buckets`` id-range slices, and
    report per bucket the cumulative token count and cumulative
    DISTINCT vocabulary — the curve whose flattening says "more of the
    same crawl adds words, not WORDS" (the diminishing-returns signal
    behind dedup/diversity decisions), plus per-bucket new-type
    counts.

    Bucketing is pure integer arithmetic over the id range
    (``(id - min) * n_buckets DIV (max - min + 1)``, a broadcast
    1-row min/max) — NOT a global rank, so no single-partition sort
    over documents exists; the caveat is that id-sparse corpora get
    uneven buckets (documented trade-off; ids here are the corpus
    order). A token's first appearance is its min id's bucket — one
    token-keyed hash aggregate; the cumulative sums run over the
    ``n_buckets``-row table (single-partition by construction, the
    nanvl idiom).

    Output: (bucket, n_docs, tokens, tokens_cum, new_types,
    vocab_cum).
    """
    from ..functions.text import normalized_text  # noqa: PLC0415

    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    rng = df.agg(
        F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi")
    )
    bucket = (
        (F.col(id_col) - F.col("__lo")) * F.lit(n_buckets)
    ) / (F.col("__hi") - F.col("__lo") + F.lit(1))
    base = df.crossJoin(F.broadcast(rng)).select(
        F.col(id_col).alias("id"),
        F.floor(bucket).cast("long").alias("bucket"),
        F.split(
            normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " "
        ).alias("__toks"),
    )
    toks = base.select(
        "id", "bucket", F.explode("__toks").alias("tok")
    ).filter(F.length("tok") >= 1)
    per_bucket = base.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.size(F.filter(F.col("__toks"), lambda t: F.length(t) >= 1))
        ).cast("long").alias("tokens"),
    )
    first_bucket = toks.groupBy("tok").agg(
        F.min("bucket").alias("fb")
    )
    new_types = first_bucket.groupBy("fb").agg(
        F.count(F.lit(1)).alias("new_types")
    )
    joined = per_bucket.join(
        new_types.withColumnRenamed("fb", "bucket"), "bucket", "left"
    ).select(
        "bucket",
        "n_docs",
        "tokens",
        F.coalesce("new_types", F.lit(0).cast("long")).alias("new_types"),
    )
    w = (
        Window.partitionBy(
            F.nanvl(F.col("bucket").cast("double") * F.lit(0.0), F.lit(0.0))
        )
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "bucket",
        "n_docs",
        "tokens",
        F.sum("tokens").over(w).cast("long").alias("tokens_cum"),
        "new_types",
        F.sum("new_types").over(w).cast("long").alias("vocab_cum"),
    ).orderBy("bucket")


def chi2_terms(
    df: DataFrame,
    text_col: str = "text",
    class_col: str = "lang",
    id_col: str = "doc_id",
    top_k: int = 10,
) -> DataFrame:
    """Chi-square term selection per class — the feature-selection
    step before training a per-class router or scorer (which tokens
    are EVIDENCE of a class, not merely frequent): for each
    (class, term), the 2×2 presence table A/B/C/D yields
    ``chi2 = N(AD−BC)² / ((A+B)(C+D)(A+C)(B+D))``; the per-class
    top-k terms by chi2 are the discriminators. Complements TF-IDF
    (row 74 — frequency against a background) with a supervised
    signal.

    Exactness: A/B/C/D are exact document counts; the difference
    ``AD − BC`` is an exact DECIMAL product-difference; chi2 then
    evaluates in doubles with a FIXED multiplication order (same
    sequence in the SQL twin), one final round. Document-presence
    (not raw counts) keeps every cell a count of docs.

    Scale shape: distinct (doc, class, term) explode → two hash
    aggregates (per class-term, per term) + two broadcast-able
    model-sized joins (class totals, corpus total); the per-class
    top-k is a bounded window over class-term rows.
    """
    from ..functions.numeric import round_c  # noqa: PLC0415
    from ..functions.text import normalized_text  # noqa: PLC0415

    pres = (
        df.filter(F.col(class_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(class_col).alias("cls"),
            F.explode(
                F.array_distinct(
                    F.split(
                        normalized_text(
                            F.coalesce(F.col(text_col), F.lit(""))
                        ),
                        " ",
                    )
                )
            ).alias("tok"),
        )
        .filter(F.length("tok") >= 1)
    )
    a = pres.groupBy("cls", "tok").agg(F.count(F.lit(1)).alias("A"))
    t_tot = pres.groupBy("tok").agg(F.count(F.lit(1)).alias("T"))
    c_tot = (
        df.filter(F.col(class_col).isNotNull())
        .groupBy(F.col(class_col).alias("cls"))
        .agg(F.count(F.lit(1)).alias("Nc"))
    )
    n_tot = df.filter(F.col(class_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("N")
    )
    cells = (
        a.join(t_tot, "tok")
        .join(c_tot, "cls")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "cls",
            "tok",
            "A",
            (F.col("T") - F.col("A")).alias("B"),
            (F.col("Nc") - F.col("A")).alias("C"),
            (F.col("N") - F.col("Nc") - (F.col("T") - F.col("A"))).alias("D"),
            "N",
        )
    )
    diff = (
        F.col("A").cast("decimal(38,0)") * F.col("D").cast("decimal(38,0)")
        - F.col("B").cast("decimal(38,0)") * F.col("C").cast("decimal(38,0)")
    ).cast("double")
    den = (
        (F.col("A") + F.col("B")).cast("double")
        * (F.col("C") + F.col("D")).cast("double")
        * (F.col("A") + F.col("C")).cast("double")
        * (F.col("B") + F.col("D")).cast("double")
    )
    scored = cells.select(
        "cls",
        "tok",
        "A",
        F.when(
            den > 0,
            round_c(F.col("N").cast("double") * (diff * diff) / den, 6),
        ).alias("chi2"),
    ).filter(F.col("chi2").isNotNull())
    w = Window.partitionBy("cls").orderBy(F.desc("chi2"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("cls", "rank", "tok", F.col("A").alias("n_docs"), "chi2")
        .orderBy("cls", "rank")
    )


def trending_terms(
    df: DataFrame,
    text_col: str,
    window_col: str,
    top_k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Window-over-window trending terms: token rates (integer parts
    per million) in the AFTER window (``window_col`` = 1) vs the
    BEFORE window (0), ranked by rate delta — the trend detector over
    a corpus/stream ("what vocabulary is rising"), complementing the
    static census (row 90) and the distribution drift tests (rows
    145/167) with a per-TERM answer.

    Exactness: ppm = cnt·1,000,000 DIV window-total — pure integer
    arithmetic end to end (no rate division ever touches a double),
    so the output replays exactly and tiny windows can't float-drift.
    Absent-in-one-window tokens count 0 there (full outer on the
    token). ``min_count`` drops noise terms (fewer than that many
    total occurrences).

    Scale shape: one tokenize+explode into a (token, window) hash
    aggregate, a 2-row broadcast of window totals, one TakeOrdered
    top-k. Output: (token, n_before, n_after, ppm_before, ppm_after,
    delta_ppm), delta descending, token tiebreak.
    """
    from ..functions.text import normalized_text  # noqa: PLC0415

    toks = df.select(
        F.col(window_col).cast("int").alias("w"),
        F.explode(
            F.split(
                normalized_text(F.coalesce(F.col(text_col), F.lit(""))), " "
            )
        ).alias("tok"),
    ).filter((F.length("tok") >= 1) & F.col("w").isin(0, 1))
    counts = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_before"),
        F.sum(F.when(F.col("w") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_after"),
    )
    # totals derive from the per-token aggregate (BEFORE the
    # min_count filter, which partitions the token space) — never a
    # second pass over the tokenize+explode subtree (the
    # token_cosine_pairs re-execution lesson)
    totals = counts.agg(
        F.sum("n_before").cast("long").alias("__tb"),
        F.sum("n_after").cast("long").alias("__ta"),
    )
    ppm_b = F.when(
        F.col("__tb") > 0,
        F.expr("n_before * 1000000 DIV __tb"),
    ).otherwise(F.lit(0)).cast("long")
    ppm_a = F.when(
        F.col("__ta") > 0,
        F.expr("n_after * 1000000 DIV __ta"),
    ).otherwise(F.lit(0)).cast("long")
    return (
        counts.filter(F.col("n_before") + F.col("n_after") >= min_count)
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            "n_before",
            "n_after",
            ppm_b.alias("ppm_before"),
            ppm_a.alias("ppm_after"),
            (ppm_a - ppm_b).alias("delta_ppm"),
        )
        .orderBy(F.desc("delta_ppm"), "tok")
        .limit(top_k)
    )


def greedy_coverage_select(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_n: int = 1,
) -> DataFrame:
    """Greedy maximum-coverage corpus selection (the Nemhauser greedy
    for a submodular objective — guaranteed within (1 - 1/e) of the
    optimal k-subset): pick, k times, the document adding the most
    NOT-YET-COVERED distinct tokens. The diversity-first selector
    beside the frequency/quality samplers (DoReMi reweights, quota
    caps, temperature flattens — none of them MAXIMIZE coverage; this
    is the "seed a labeling budget / eval set with maximal variety"
    shape).

    Per round (the BPE-argmax discipline — driver traffic is ONE row
    per round): candidates' marginal gains are a left_anti join of
    the staged (id, token) table against the covered-token set plus a
    per-id count, the winner is a 1-row TakeOrdered collect (gain
    desc, id asc — a TOTAL order, so the selection sequence is
    replayable by an unrolled SQL twin), and the covered set grows by
    the winner's tokens (localCheckpoint per round: round r's plan
    must not re-execute rounds 1..r-1). Selection stops early when no
    remaining candidate adds a single new token (zero-gain docs never
    produce a gains row) — the unrolled oracle mirrors that by
    emitting no row for exhausted rounds.

    Scale: the (id, token) table is built ONCE (one explode + one
    distinct); each round shuffles only that table's anti-join
    against a covered set bounded by the selected docs' vocabulary.
    k is report-sized (a labeling budget), never corpus-sized.
    ``gram_n > 1`` covers word n-grams instead of unigrams (the qx85
    lesson: a saturated unigram vocabulary makes every selector
    equivalent after one pick — n-grams keep the objective
    discriminative). Output: (round, id, gain) in selection order.
    """
    from ..functions.text import tokens  # noqa: PLC0415
    from .dedup import exploded_shingles  # noqa: PLC0415

    if k < 1:
        raise ValueError("k must be >= 1")
    spark = df.sparkSession
    if gram_n > 1:
        toks = (
            exploded_shingles(df, text_col, id_col, gram_n)
            .select("id", F.col("g").alias("t"))
            .localCheckpoint()
        )
    else:
        toks = (
            df.filter(F.col(text_col).isNotNull())
            .select(
                F.col(id_col).alias("id"),
                F.explode(tokens(F.col(text_col))).alias("t"),
            )
            .distinct()
            .localCheckpoint()
        )
    covered = toks.select("t").limit(0).localCheckpoint()
    chosen: list[tuple[int, object, int]] = []
    chosen_ids: list = []
    for rnd in range(1, k + 1):
        cand = toks
        if chosen_ids:
            cand = cand.filter(~F.col("id").isin(chosen_ids))
        gains = (
            cand.join(covered, "t", "left_anti")
            .groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("gain"))
        )
        top = gains.orderBy(F.col("gain").desc(), F.col("id").asc()).limit(
            1
        ).collect()
        if not top:
            break
        win_id, gain = top[0]["id"], top[0]["gain"]
        chosen.append((rnd, win_id, int(gain)))
        chosen_ids.append(win_id)
        covered = (
            covered.unionByName(
                toks.filter(F.col("id") == F.lit(win_id)).select("t")
            )
            .distinct()
            .localCheckpoint()
        )
    id_type = dict(df.dtypes)[id_col]
    from ..functions.localframe import one_partition_frame  # noqa: PLC0415

    return one_partition_frame(
        spark, chosen, f"round int, id {id_type}, gain long"
    ).orderBy("round")
