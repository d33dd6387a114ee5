"""The composed training-data curation pipeline — the end-to-end plan a
corpus runs before tokenization: scrub → length-guard → exact-dedupe →
split assignment, each stage an operator this engine already oracle-gates
individually, composed here into ONE lazy DataFrame so Catalyst plans the
whole pipeline together (the scrub projection fuses into the scan, the
guard pushes under the dedup window's exchange, and nothing materializes
between stages).

This is the composition story the reference's per-job Glue scripts lack
(each stage there is a separate job landing to S3 — reference:
glue/reddit_glue.py end-to-end writes between every stage); at 100 TB the
difference is N full materializations versus one pipelined pass plus the
one fingerprint-keyed dedup exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..checkpointing import truncate_lineage
from ..operators import dedup as dedup_ops, sampling, text as text_ops
from ..parallel import spread as _spread


def _gate_barrier(df: DataFrame) -> DataFrame:
    """Lazy lineage cut BETWEEN a scored projection and the filters that
    consume it. Catalyst pushes a filter through a projection by
    SUBSTITUTING the projected expressions into the condition, so
    `langid_margin(...).filter(lang_conf != 'und')` re-evaluates the
    whole staged token machinery inside the filter — the executed gate
    plan carried ~114 copies of split(regexp_replace(lower(text))), and
    spreading the input over more partitions did not help. The barrier
    makes the filters read materialized attributes: one copy of the
    machinery, one pass over the text. No-op on streaming frames
    (plan-build-time AnalysisException otherwise; micro-batch plans are
    rebuilt per batch anyway). The route (local or reliable) follows
    the session's checkpoint dir — see `checkpointing`."""
    if df.isStreaming:
        return df
    return truncate_lineage(df, eager=False)


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    split_weights: tuple[float, float, float] = (0.98, 0.01, 0.01),
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, split, n_tokens) for every SURVIVING document:

    1. ``clean_for_training`` — markup/control/PII scrub (one projection);
    2. length guard on the CLEANED text (scrubbing can empty a doc);
    3. ``exact_dedupe`` on the cleaned text (min-id keeps, documents never
       ride the fingerprint exchange);
    4. deterministic split label (hash membership — reproducible on any
       partitioning, any engine via hash_fn='md5').

    Order matters and is the curation-standard one: dedup AFTER cleaning
    (two docs differing only in boilerplate are duplicates), split LAST
    (so losers don't consume split capacity).

    A `_gate_barrier` sits after the scrub projection: without it the
    length guard's filter pushdown substitutes the whole scrub regex
    chain into its condition and ``exact_dedupe``'s loser anti-join
    doubles everything again, so the scrub ran up to 4× per row."""
    cleaned = _gate_barrier(
        text_ops.clean_for_training(docs.select(id_col, text_col), col=text_col)
    )
    guarded = cleaned.filter(text_ops.token_count(text_col) >= min_words)
    deduped = dedup_ops.exact_dedupe(guarded, id_col=id_col, text_col=text_col)
    return deduped.select(
        F.col(id_col),
        sampling.split_label(id_col, split_weights, hash_fn=hash_fn).alias("split"),
        text_ops.token_count(text_col).cast("long").alias("n_tokens"),
    )


def curate_corpus_v2(
    docs: DataFrame,
    blocked: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    blocked_col: str = "domain",
    min_margin: int = 2,
    domain_cap: int = 20,
    q_micro_min: int = 150_000,
    split_weights: tuple[float, float, float] = (0.98, 0.01, 0.01),
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The RefinedWeb/Dolma-shape curation pipeline over (id, text, url)
    rows, composing the r8/r9 primitives into ONE lazy plan:

    1. confidence-gated language ID (``langid_margin`` with
       ``keep=(text, url)`` — the label rides the scan, no re-join);
       rows whose lang_conf is 'und' drop;
    2. registered-domain BLOCKLIST as a broadcast left-anti join
       (``domain_blocklist_filter_table`` semantics, list = DATA);
    3. QUALITY gate on exact integer micro-units:
       floor(quality_score·1e6) >= q_micro_min — floor is binary-exact
       in both engines, so the gate has NO float tie boundary (the
       domain_stats discipline applied to a filter);
    4. per-domain QUOTA (``cap_per_group`` — deterministic hash order,
       one domain-keyed window);
    5. exact DEDUPE (min-id keeps, slim fingerprint exchange);
    6. deterministic SPLIT label.

    Returns (id, lang, domain, split, n_tokens) for surviving docs.

    Scale shape: langid + domain + quality are scan-level projections;
    the blocklist never shuffles the corpus (broadcast anti-join); the
    quota window is the pipeline's one domain-keyed corpus exchange
    (text rides as PAYLOAD, never a key — pair with AQE skew split for
    celebrity domains); the dedupe windows a slim (id, fp) projection
    and anti-joins losers back by id. Stage order is the curation-
    standard one: cheap row-local gates first (langid, blocklist,
    quality — ADVICE r9: the quality gate runs BEFORE the quota so a
    low-quality page can never consume a domain's cap and evict a
    high-quality one, matching `curate_increment`), the per-domain
    rules before dedupe (a domain's quota should not be refilled by
    its own near-identical pages), split LAST so losers don't consume
    split capacity.

    The gated survivors sit behind a lazy `_gate_barrier`. Without it,
    filter/projection pushdown substitutes the staged langid/quality
    expression trees into every downstream reference — the analyzed plan
    is ~25× larger (414 KB vs 16 KB formatted) and Catalyst pays that on
    every action. Same values either way; the barrier's fault tolerance
    follows the session's checkpoint dir (see `checkpointing`)."""
    qual = _gate_barrier(
        _corpus_gated(
            docs, blocked, id_col, text_col, url_col, blocked_col,
            min_margin, q_micro_min,
        )
    )
    quota = sampling.cap_per_group(
        qual, "domain", domain_cap, id_col=id_col, hash_fn=hash_fn
    )
    deduped = dedup_ops.exact_dedupe(quota, id_col=id_col, text_col=text_col)
    return deduped.select(
        F.col(id_col),
        "lang",
        "domain",
        sampling.split_label(id_col, split_weights, hash_fn=hash_fn).alias("split"),
        text_ops.token_count(text_col).cast("long").alias("n_tokens"),
    )


def curate_corpus_v3(
    docs: DataFrame,
    blocked: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    blocked_col: str = "domain",
    min_margin: int = 2,
    domain_cap: int = 20,
    q_micro_min: int = 150_000,
    rep_dup_line_micro_max: int = 300_000,
    rep_top_bigram_micro_max: int = 200_000,
    split_weights: tuple[float, float, float] = (0.98, 0.01, 0.01),
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """`curate_corpus_v2` with the REPETITION gate composed in:
    shape-based quality (length/punctuation) passes SEO spam that
    repeats itself; `repetition_signals` catches it. Stage order:
    langid → blocklist → quality → REPETITION gate (dup-line fraction
    and top-bigram char coverage, both cut on floor(frac·1e6) integer
    micro-units — binary-exact in both engines, the quality-gate
    discipline) → per-domain quota → exact dedupe → split.

    Plan shape: the fold-form `repetition_signals` is a row-local
    projection, so the gate FILTERS on passthrough columns — the
    original signal-frame id-join (text as payload on that exchange) is
    gone; the filter form measured parity with the join locally and
    saves the shuffle at scale. The `_gate_barrier` on the gated
    survivors is load-bearing: without it, predicate pushdown collapses
    the staged langid/quality/fold projections and substitutes their
    expression trees into every downstream reference (the executed plan
    carries 165 copies of the langid regexp machinery)."""
    qual = _gate_barrier(
        _corpus_gated(
            docs, blocked, id_col, text_col, url_col, blocked_col,
            min_margin, q_micro_min,
        )
    )
    kept = (
        text_ops.repetition_signals(
            qual, col=text_col, id_col=id_col, keep=(text_col, "lang", "domain")
        )
        .filter(
            (
                F.floor(F.col("dup_line_frac") * F.lit(1_000_000.0)).cast("long")
                <= F.lit(rep_dup_line_micro_max)
            )
            & (
                F.floor(F.col("top_bigram_char_frac") * F.lit(1_000_000.0)).cast(
                    "long"
                )
                <= F.lit(rep_top_bigram_micro_max)
            )
        )
        .select(id_col, text_col, "lang", "domain")
    )
    quota = sampling.cap_per_group(
        kept, "domain", domain_cap, id_col=id_col, hash_fn=hash_fn
    )
    deduped = dedup_ops.exact_dedupe(quota, id_col=id_col, text_col=text_col)
    return deduped.select(
        F.col(id_col),
        "lang",
        "domain",
        sampling.split_label(id_col, split_weights, hash_fn=hash_fn).alias("split"),
        text_ops.token_count(text_col).cast("long").alias("n_tokens"),
    )


def _corpus_gated(
    docs: DataFrame,
    blocked: DataFrame | None,
    id_col: str,
    text_col: str,
    url_col: str,
    blocked_col: str,
    min_margin: int,
    q_micro_min: int,
    keep_extra: tuple = (),
) -> DataFrame:
    """Stages 1-3 of whole-corpus curation, shared by v2 and v3 (and the
    streaming curate_stream — `keep_extra` threads the event-time column
    through for its watermark): confidence langid (label rides the
    scan), optional broadcast blocklist anti-join on the registered
    domain, integer micro-unit quality gate. Returns
    (id, text, url, *keep_extra, lang, domain).

    The input is `spread()` first — the langid/quality/domain
    expression chain is row-local CPU work, and a few-MB corpus arrives
    as 1-2 scan splits, pinning the whole gate stage (and the barrier
    that materializes it) to 1-2 cores; at scale the scan has enough
    splits and spread is a no-op costing only the check.

    The scored langid projection gets its own `_gate_barrier` BEFORE the
    lang_conf filter — see the helper's docstring for the
    pushdown-substitution duplication it removes (the gate chain was
    paying ~17 evaluations of the token machinery per row)."""
    scored = _gate_barrier(
        text_ops.langid_margin(
            _spread(docs.select(id_col, text_col, url_col, *keep_extra)),
            col=text_col,
            id_col=id_col,
            min_margin=min_margin,
            keep=(text_col, url_col, *keep_extra),
        )
    )
    lang_ok = (
        scored
        .filter(F.col("lang_conf") != "und")
        .select(
            id_col, text_col, url_col, *keep_extra,
            F.col("lang_conf").alias("lang"),
        )
    )
    dom = lang_ok.withColumn("domain", text_ops.registered_domain(url_col))
    if blocked is not None:
        dom = dom.join(
            F.broadcast(blocked.select(F.col(blocked_col).alias("domain"))),
            "domain",
            "left_anti",
        )
    return dom.filter(
        F.floor(text_ops.quality_score(text_col) * F.lit(1_000_000.0)).cast("long")
        >= F.lit(q_micro_min)
    )


def curate_increment(
    batch: DataFrame,
    corpus: DataFrame,
    blocked: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    blocked_col: str = "domain",
    min_margin: int = 2,
    domain_cap: int = 20,
    q_micro_min: int = 150_000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental ADMISSION of a new crawl batch against an existing
    curated corpus — the steady-state production shape (a pipeline
    curates the whole web once, then admits daily crawls forever; the
    `dedup_incremental_pairs` marginal-cost thesis applied to the whole
    curation stack):

    1. row-local gates on the BATCH only: confidence langid, optional
       blocklist anti-join, integer micro-unit quality;
    2. exact dedupe WITHIN the batch (min-id keeps), then against the
       CORPUS — the corpus contributes only its 32-byte fingerprint
       set, reduced map-side, never its documents;
    3. per-domain quota ACCOUNTING: the corpus contributes only
       (domain, count); a batch row is admitted while
       existing + hash-order-rank ≤ domain_cap, so a domain the corpus
       already filled admits nothing and a fresh domain admits up to
       the cap.

    Returns (id, lang, domain, n_tokens) of ADMITTED batch rows.

    Scale shape: batch-side work is the same three slim-keyed exchanges
    as `curate_corpus_v2`; the corpus is scanned once per reduction
    (fingerprints, domain counts — both collapse map-side to
    ~|distinct| rows) and NEVER re-shuffled in full. Marginal cost is
    proportional to the batch, not the corpus — the property that makes
    daily admission affordable at a 100-TB standing corpus. Stage order
    differs from `curate_corpus_v2` deliberately: dedupe runs BEFORE
    quota here so near-identical recrawls cannot consume a domain's
    remaining quota.

    The gated NOVEL batch rows (contractually the small side) sit behind
    a lazy `_gate_barrier`. Without it the quota stage's multiple
    references substitute the full gate expression trees — the analyzed
    plan is ~80× larger (1.26 MB vs 16 KB formatted) and Catalyst pays
    that per action. Same values."""
    novel = _gate_barrier(
        _increment_gated_novel(
            batch, corpus, blocked, id_col, text_col, url_col, blocked_col,
            min_margin, q_micro_min,
        )
    )
    return _admit_by_quota(
        novel, corpus, id_col, text_col, url_col, domain_cap, hash_fn
    )


def _increment_gated_novel(
    batch: DataFrame,
    corpus: DataFrame,
    blocked: DataFrame | None,
    id_col: str,
    text_col: str,
    url_col: str,
    blocked_col: str,
    min_margin: int,
    q_micro_min: int,
    corpus_fps: DataFrame | None = None,
) -> DataFrame:
    """Stages 1-2 of incremental admission, shared by `curate_increment`
    and `curate_increment_v2`: row-local gates on the batch (confidence
    langid, optional broadcast blocklist anti-join, integer micro-unit
    quality), within-batch exact dedupe, then the corpus-fingerprint
    anti-join. Returns the gated NOVEL batch rows
    (id, text, url, lang, domain).

    `corpus_fps` is the stored-reduction form (one `__fp` column, the
    distinct corpus fingerprint set): pass it when the pipeline persists
    fingerprints at admission (`streaming/curation.py:curate_stream_v2`)
    and the corpus text is never re-scanned here; `corpus` may then be
    None. Without it the fingerprint set derives from `corpus`.

    The batch is NOT spread before the gates (contrast _corpus_gated):
    the batch gate chain is too light to pay for the repartition, and
    its cost is pushdown SUBSTITUTION, not row compute — see
    `_gate_barrier`. Two barriers fix it: one after the scored langid
    projection (filters read attributes, one pass of the token
    machinery), one after the quality gate (``exact_dedupe``'s loser
    anti-join references its input twice, so without it the whole gate
    chain re-ran per side)."""
    scored = _gate_barrier(
        text_ops.langid_margin(
            batch.select(id_col, text_col, url_col),
            col=text_col,
            id_col=id_col,
            min_margin=min_margin,
            keep=(text_col, url_col),
        )
    )
    lang_ok = (
        scored
        .filter(F.col("lang_conf") != "und")
        .select(id_col, text_col, url_col, F.col("lang_conf").alias("lang"))
    )
    dom = lang_ok.withColumn("domain", text_ops.registered_domain(url_col))
    if blocked is not None:
        dom = dom.join(
            F.broadcast(blocked.select(F.col(blocked_col).alias("domain"))),
            "domain",
            "left_anti",
        )
    qual = _gate_barrier(
        dom.filter(
            F.floor(text_ops.quality_score(text_col) * F.lit(1_000_000.0)).cast("long")
            >= F.lit(q_micro_min)
        )
    )
    within = dedup_ops.exact_dedupe(qual, id_col=id_col, text_col=text_col)
    corpus_fp = (
        corpus_fps.select("__fp")
        if corpus_fps is not None
        else corpus.select(text_ops.fingerprint(text_col).alias("__fp")).distinct()
    )
    return (
        within.withColumn("__fp", text_ops.fingerprint(text_col))
        .join(corpus_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def _admit_by_quota(
    novel: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    url_col: str,
    domain_cap: int,
    hash_fn: str,
    have: DataFrame | None = None,
    quota_keys: list[str] | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stage 3 of incremental admission: per-domain remaining-quota
    ranking. The corpus contributes only (domain, count) — reduced
    map-side, never re-shuffled in full. `have` is the stored-reduction
    form ((domain, __have) — per-domain admitted counts maintained at
    admission time, `streaming/curation.py:curate_stream_v2`); `corpus`
    may then be None and is never scanned.

    `quota_keys` (default ["domain"]) is the quota's group key: pass
    ["domain", "__day"] for a PER-EVENT-DAY domain cap (the daily mode
    of `curate_stream_v2` — `have` must then carry the same keys). Keys
    beyond "domain" must already be columns of `novel` and survive into
    the output so the caller can maintain keyed counts.

    `keep_cols` names extra `novel` columns passed through to the
    output. Keeping `text_col` is FREE: every `novel` column already
    rides the quota window's shuffle (the select below is what drops
    them), so a caller that needs admitted text avoids re-joining it —
    `curate_stream_v2`'s admission uses this to make the admitted frame
    serve as its own doc set (r12 A/B: tools/ab_increment_v2_writes.py)."""
    keys = list(quota_keys) if quota_keys else ["domain"]
    if have is None:
        have = (
            corpus.select(text_ops.registered_domain(url_col).alias("domain"))
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("__have"))
        )
    w = Window.partitionBy(*keys).orderBy(
        sampling._bucket(id_col, "cap", hash_fn).asc(), F.col(id_col).asc()
    )
    extra = [k for k in keys if k != "domain"]
    return (
        novel.withColumn("__rn", F.row_number().over(w))
        .join(have, keys, "left")
        .filter(
            F.col("__rn") <= F.lit(domain_cap) - F.coalesce(F.col("__have"), F.lit(0))
        )
        .select(
            F.col(id_col),
            "lang",
            "domain",
            text_ops.token_count(text_col).cast("long").alias("n_tokens"),
            *extra,
            *keep_cols,
        )
    )


def curate_increment_v2(
    batch: DataFrame,
    corpus: DataFrame,
    blocked: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    url_col: str = "url",
    blocked_col: str = "domain",
    min_margin: int = 2,
    domain_cap: int = 20,
    q_micro_min: int = 150_000,
    hash_fn: str = "xxhash64",
    neardup_threshold: float = 0.9,
    num_perm: int = 64,
    shingle_k: int = 3,
    bands: int = 16,
    corpus_state: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """`curate_increment` with the NEAR-dup corpus screen composed into
    admission (VERDICT r9 item 7): a recrawl that differs from a corpus
    page only by boilerplate survives the exact-fingerprint anti-join
    but should not be admitted — exactly what `minhash_incremental_pairs`
    screens for at batch-proportional cost. Stage order: row-local
    gates → within-batch exact dedupe → corpus exact-fp anti-join →
    incremental MinHash probe (drop every batch row that near-dups a
    corpus doc or a smaller-id batch row, J ≥ `neardup_threshold`) →
    remaining-quota ranking.

    Requires batch ids above corpus ids (the incremental convention —
    pair b-sides are then always batch rows, so the corpus is never
    evicted by its own recrawls). Pass `corpus_state` =
    ``minhash_corpus_state(corpus)`` (persisted/stored at ingest) for
    the production shape: the corpus text is then never re-shingled and
    per-batch cost collapses to batch shingles + one bucket-keyed probe
    against the stored band table. Without it the corpus state derives
    here — still only slim (id, hash) rows ride any exchange; corpus
    TEXT never shuffles in either form.

    Same oracle discipline as the dedup_incremental family: at
    threshold ≥ 0.9 the 64-perm/16-band LSH candidate recall is ≈ 1,
    so an exact-Jaccard oracle gates the whole composition."""
    # The gated-novel subtree (langid scoring, windows, two anti-joins)
    # feeds THREE consumers here — the probe's shingle side, the loser
    # anti-join's left side, and (transitively) the final quota — so it
    # is materialized once. The cache holds the BATCH's survivors (the
    # contractually small side of incremental admission), never the
    # corpus. Without this the gate pipeline re-executes per consumer.
    # A lineage cut rather than persist(): it caches the SAME rows AND
    # truncates the logical plan, so the three consumers stop embedding
    # the full gate tree (persist's cache only dedups EXECUTION, not
    # Catalyst analysis, which re-walked a 1.78 MB formatted plan per
    # action).
    novel = _gate_barrier(
        _increment_gated_novel(
            batch, corpus, blocked, id_col, text_col, url_col, blocked_col,
            min_margin, q_micro_min,
        )
    )
    pairs = dedup_ops.minhash_incremental_pairs(
        novel.select(id_col, text_col),
        corpus.select(id_col, text_col),
        id_col=id_col,
        text_col=text_col,
        num_perm=num_perm,
        k=shingle_k,
        bands=bands,
        threshold=neardup_threshold,
        corpus_state=corpus_state,
    )
    # canonical pairs (a < b) with at least one batch side; batch ids sit
    # above corpus ids, so b is ALWAYS a batch row: dropping distinct
    # b-sides evicts corpus near-dups and keeps the min-id batch row of
    # every within-batch near-dup group (the exact-dedupe convention)
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    screened = novel.join(losers, id_col, "left_anti")
    return _admit_by_quota(
        screened, corpus, id_col, text_col, url_col, domain_cap, hash_fn
    )


def pack_sequences(
    df: DataFrame,
    ctx_len: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count_col: str | None = None,
    salt: str = "pack",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """GPT-style sequence PACKING assignment (r10) — the step between a
    curated corpus and a training loader: documents concatenate into one
    token stream per shard and the stream splits into fixed `ctx_len`
    sequences; a document may span a sequence boundary (the standard
    pretraining layout — no padding waste). This operator computes each
    document's PLACEMENT deterministically:

      (id, shard, n_tokens, start_tok, seq_first, seq_last, seq_offset)

    where `start_tok` is the document's running token offset within its
    shard's stream, `seq_first/seq_last` the ctx-sequences it touches,
    and `seq_offset` its position inside seq_first. Placement is a pure
    function of the data: shard = hash(salt, id) % n_shards, stream
    order within a shard = (hash bucket, id) — the `split_label`/
    `cap_per_group` determinism discipline, reproducible on any
    partitioning and replayable in ANSI SQL (all-integer arithmetic).

    Scale shape: ONE shard-keyed exchange, then a per-shard running-sum
    window. A shard's window is sequential by nature (it defines the
    stream), so `n_shards` is the parallelism knob — size it so one
    shard's (id, n_tokens) rows fit a task comfortably (they are 16
    bytes/doc; even a billion-doc corpus at 1024 shards is ~16 MB per
    task). Text never enters the plan: only the token counts ride."""
    if ctx_len < 1 or n_shards < 1:
        raise ValueError("pack_sequences: ctx_len >= 1 and n_shards >= 1 required")
    n_tok = (
        F.col(token_count_col)
        if token_count_col is not None
        else text_ops.token_count(text_col)
    ).cast("long")
    slim = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        # shard and stream order from two decorrelated _bucket salts —
        # the hash_fn='md5' path replays verbatim in any engine
        (sampling._bucket(id_col, salt + "-shard", hash_fn) % F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        sampling._bucket(id_col, salt, hash_fn).alias("__b"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__b").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return slim.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        start.alias("start_tok"),
        F.floor(start / F.lit(ctx_len)).cast("long").alias("seq_first"),
        F.floor(
            (start + F.greatest(F.col("n_tokens"), F.lit(1)) - 1) / F.lit(ctx_len)
        )
        .cast("long")
        .alias("seq_last"),
        F.pmod(start, F.lit(ctx_len)).cast("int").alias("seq_offset"),
    )


def write_training_shards(
    df,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    token_count_col: str | None = None,
    salt: str = "shard",
):
    """Export a curated corpus as `n_shards` deterministic shards plus a
    manifest — the final step of a training-data pipeline (the artifact a
    training job actually consumes). Shard assignment is hash(salt, id) %
    n_shards: reproducible across runs and partitionings (re-exporting an
    unchanged corpus yields byte-stable shard MEMBERSHIP), statistically
    even-sized, and append-friendly (new docs land in stable shards).

    Layout: ``<path>/data/shard=<k>/*.parquet`` (one file per shard via a
    shard-keyed repartition — the writer task per shard streams, so shard
    size is bounded by disk, not memory) and ``<path>/manifest.parquet``
    with (shard, n_rows[, n_tokens]) — the sanity check a training job
    runs before touching the data, and the unit of work for a shard-level
    resume. Returns the manifest DataFrame.

    At 100 TB: the export is ONE hash-keyed exchange; n_shards should be
    chosen so a shard is a few GB (training-loader friendly). The manifest
    aggregation reuses the same exchange's output.
    """
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.lit(salt), F.col(id_col)), F.lit(n_shards)).cast("int")
    )
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path + "/data")
    )
    # manifest from the WRITTEN data (not the pre-write frame), so it can
    # never disagree with what landed on disk
    spark = df.sparkSession
    written = spark.read.parquet(path + "/data")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if token_count_col is not None:
        aggs.append(F.sum(token_count_col).cast("long").alias("n_tokens"))
    manifest = written.groupBy("shard").agg(*aggs).orderBy("shard")
    manifest.write.mode("overwrite").parquet(path + "/manifest.parquet")
    return spark.read.parquet(path + "/manifest.parquet")
