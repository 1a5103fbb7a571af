"""Training-data preparation operators: PII redaction, context-window
chunking, and greedy sequence packing.

These are the last-mile ops between a deduplicated corpus and a tokenizer:
scrub PII, cut documents into model-context chunks, and pack
variable-length documents into fixed-token-budget training sequences.
(Weighted source mixing already exists as dedup.sample_stratified /
dedup.train_split.) The reference engine — whitfieldsdad/epss — has no
document pipeline; these extend the engine for LLM-corpus work, same as
operators/text.py and operators/dedup.py.

Scale posture:
- `pii_redact` and `chunk_tokens` are pure Catalyst projections
  (regexp_replace / slice / posexplode) — zero shuffle, whole-stage
  codegen, run at scan speed on a 100 TB documents table.
- `pack_sequences` is the one stateful op: greedy next-fit packing is a
  sequential fold, so it hash-partitions docs into `n_buckets` independent
  buckets and packs each bucket in one Arrow batch. Only (id, bucket,
  n_tokens) crosses to Python — never the text — so the Python crossing is
  ~16 bytes/doc regardless of document size. Buckets are independent ⇒
  1000-executor parallel; quality loss vs global packing is bounded by one
  partially-filled tail bin per bucket.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .dedup import _md5_60bit
from .text import tokens

# (name, java/RE2-portable pattern, replacement) — applied in order. The
# patterns deliberately use only syntax shared by Java regex (Spark) and
# RE2 (DuckDB): no backreferences, no lookaround.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def pii_redact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Redact PII spans (emails, SSNs, phone numbers, IPv4 addresses) and
    count each category. Counts are taken on the ORIGINAL text (so they are
    independent of replacement order); replacements are applied in pattern
    order, each on the output of the previous (email first, so an address
    like user@10.0.0.1 counts as both email and ipv4 but redacts as one
    <EMAIL> span).

    Pure projection — regexp_extract_all + regexp_replace are codegen'd
    JVM expressions; no shuffle, no Python. Output:
    (id, text_redacted, n_<category>...).
    """
    out = docs.select(
        F.col(id_col),
        F.col(text_col),
        *[
            # NULL text -> 0 findings, not NULL (size of a NULL array)
            F.coalesce(
                F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))),
                F.lit(0),
            ).alias(f"n_{name}")
            for name, pat, _ in patterns
        ],
    )
    red = F.col(text_col)
    for _, pat, repl in patterns:
        red = F.regexp_replace(red, pat, repl)
    return out.withColumn("text_redacted", red).drop(text_col)


def chunk_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Cut each document's token stream into context-window chunks of
    `chunk_size` tokens advancing by `stride` (overlap = chunk_size -
    stride). The final chunk may be shorter; empty documents yield no
    chunks. Output: (id, chunk_idx, chunk_text, n_tokens).

    posexplode(sequence(...)) + slice — a generator expression inside
    codegen; per-row fan-out only (no shuffle). At 100 TB this runs as a
    map-only stage: chunks land in the same partition as their document.

    Start generation stops once a chunk has reached the document end
    (upper bound size - chunk_size + stride, not size): a later start
    would yield a chunk that is a strict SUBSET of the previous one —
    silent training-data duplication of exactly the kind the dedup
    stages upstream remove. The final chunk may still be shorter than
    chunk_size (the non-subset tail).
    """
    if stride < 1 or chunk_size < 1:
        raise ValueError("chunk_size and stride must be >= 1")
    toks = docs.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("_toks") - F.lit(chunk_size - stride), F.lit(1)),
        F.lit(stride),
    )
    exploded = toks.select(
        F.col(id_col), F.col("_toks"), F.posexplode(starts).alias("chunk_idx", "_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("_start"), chunk_size)
    return (
        exploded.select(
            F.col(id_col),
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
    )


def _pack_schema(id_type) -> StructType:
    # the id column keeps its source type (string ids must not be nulled
    # by a silent long cast)
    return StructType(
        [
            StructField("doc_id", id_type),
            StructField("bucket", LongType()),
            StructField("bin", LongType()),
            StructField("n_tokens", LongType()),
        ]
    )


def sized_docs(
    docs: DataFrame,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """(doc_id, bucket, n_tokens) — the only columns packing needs. Token
    counting and bucket assignment (engine-portable md5 hash, same family
    as train_split) happen JVM-side so the text column never leaves the
    scan stage. The id keeps its original type (string ids survive); NULL
    text counts as 0 tokens."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.pmod(
            _md5_60bit(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))),
            F.lit(n_buckets),
        ).alias("bucket"),
        F.when(F.col(text_col).isNull(), F.lit(0))
        .otherwise(F.size(tokens(text_col)))
        .cast("long")
        .alias("n_tokens"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 128,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
    init_state: DataFrame | None = None,
) -> DataFrame:
    """Greedy next-fit-decreasing sequence packing: assign each document to
    a training-sequence bin so that bins hold <= `budget` tokens (a doc
    longer than the budget gets a bin alone). Output:
    (doc_id, bucket, bin, n_tokens) — (bucket, bin) is the global sequence
    id.

    Packing is a sequential fold (current-bin fill carries across rows), so
    it cannot be a window function. The distributed shape: hash docs into
    `n_buckets` independent buckets (same engine-portable md5 hash as
    train_split), sort each bucket by (n_tokens desc, id), and next-fit
    pack each bucket in a single Arrow batch via applyInPandas. Token
    counts are computed JVM-side first, so only three small integer columns
    cross to Python — the 100 TB text column never leaves the JVM.

    Deterministic: bucket assignment, in-bucket order, and the next-fit
    rule are all pure functions of (id, n_tokens), which is what lets the
    DuckDB oracle replay the identical packing with a recursive CTE.

    `init_state` (bucket, open_bin, open_fill) resumes packing into a
    previous run's last open bin per bucket — the incremental mode.
    Buckets absent from the state start fresh at bin 0. The state side is
    n_buckets rows, so the join is broadcast by construction.
    """
    sized = sized_docs(docs, n_buckets, id_col, text_col, salt)
    if init_state is None:
        sized = sized.withColumn("open_bin", F.lit(None).cast("long")).withColumn(
            "open_fill", F.lit(None).cast("long")
        )
    else:
        sized = sized.join(
            F.broadcast(init_state.select("bucket", "open_bin", "open_fill")),
            "bucket",
            "left",
        )

    def _pack(pdf):
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        ob = pdf["open_bin"].iloc[0]
        of = pdf["open_fill"].iloc[0]
        cur = 0 if ob is None or ob != ob else int(ob)  # NaN-safe
        fill = 0 if of is None or of != of else int(of)
        bins = []
        for n in pdf["n_tokens"]:
            n = int(n)
            # an empty current bin always accepts (an over-budget doc sits
            # alone in it); a non-empty bin accepts only within budget
            if fill == 0 or fill + n <= budget:
                fill += n
            else:
                cur, fill = cur + 1, n
            bins.append(cur)
        pdf = pdf.assign(bin=bins)
        return pdf[["doc_id", "bucket", "bin", "n_tokens"]]

    return sized.groupBy("bucket").applyInPandas(
        _pack, _pack_schema(docs.schema[id_col].dataType)
    )


def materialize_sequences(
    packed: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Turn a pack_sequences assignment into actual training sequences:
    one row per (bucket, bin) with the member documents' texts joined by
    `sep` in PACK ORDER (n_tokens desc, id — the deterministic order the
    packer consumed them), plus member/token counts. The final
    materialization step before tokenizer consumption; compose with
    train_shards for a shuffled, sharded write.

    Scale shape: one id-equi join pulls each doc's text to its
    assignment row (packed is int-only; AQE picks the strategy), then
    ONE groupBy (bucket, bin) moves the text exactly once — per-group
    state is one training sequence (<= budget tokens) by construction,
    so collect_list is bounded and there is no skew (buckets are
    hash-uniform, bins capped by the budget)."""
    joined = packed.join(docs.select(id_col, text_col), id_col)
    ls = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("n_tokens")).alias("o"),
                F.col(id_col).alias("i"),
                F.col(text_col).alias("t"),
            )
        )
    )
    return (
        joined.groupBy("bucket", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.concat_ws(sep, F.transform(ls, lambda s: s["t"])).alias(text_col),
        )
    )


def quality_funnel(
    docs: DataFrame,
    stages: "Iterable[tuple[str, object]]",
) -> DataFrame:
    """Gate-by-gate retention report for a quality-filter pipeline:
    `stages` is an ordered list of (name, boolean Column) gates applied
    CUMULATIVELY (a document reaches stage i+1 only if it passed
    1..i — the order documents actually flow through the pipeline).
    NULL predicates count as failures. Returns one row per stage:
    (stage, name, n_in, n_out, n_dropped, retention) with retention =
    n_out / n_in rounded to 6 dp — the first artifact a pipeline owner
    reads when a corpus shrinks unexpectedly (WHICH gate got hungrier?).

    Scale shape: ONE corpus pass total, independent of the number of
    gates — each doc is mapped to the index of its first failing gate
    (a single chained CASE projection) and aggregated into at most
    n_stages+1 count rows. Those rows are a bounded eager fetch (the
    DSIR-weights / BM25-stats precedent); the cumulative funnel
    arithmetic is plain Python over them, returned as a literal
    DataFrame. The corpus total is the SUM of the first-fail counts
    (every doc lands in exactly one bucket), so there is no separate
    count() pass. Compare the naive loop: filter + count per gate =
    n_stages corpus scans."""
    stage_list = list(stages)
    if not stage_list:
        raise ValueError("stages must be non-empty")
    first_fail = F.lit(len(stage_list) + 1)
    for i in reversed(range(len(stage_list))):
        _, pred = stage_list[i]
        first_fail = F.when(~F.coalesce(pred, F.lit(False)), F.lit(i + 1)).otherwise(
            first_fail
        )
    counts = dict(
        docs.select(first_fail.alias("__ff"))
        .groupBy("__ff")
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    n_in = sum(counts.values())
    rows = []
    for i, (name, _) in enumerate(stage_list):
        dropped = counts.get(i + 1, 0)
        out = n_in - dropped
        # HALF_UP like SQL round(), not Python's banker's round — keeps
        # the 6-dp retention identical to the engines' rounding
        retention = math.floor(out / n_in * 1e6 + 0.5) / 1e6 if n_in > 0 else None
        rows.append((i + 1, name, n_in, out, dropped, retention))
        n_in = out
    return docs.sparkSession.createDataFrame(
        rows,
        "stage long, name string, n_in long, n_out long, "
        "n_dropped long, retention double",
    )


def pack_efficiency(
    assignments: DataFrame,
    budget: int,
) -> DataFrame:
    """Padding-waste report over a pack_sequences assignment — THE
    packing metric: every token a bin leaves unfilled is a padding
    token the training step pays for. One row:
    (n_bins, n_docs, n_tokens, capacity, fill_rate[6dp],
    n_overlong_bins) where capacity = n_bins * budget, fill_rate =
    n_tokens / capacity, and n_overlong_bins counts single-doc bins
    whose document alone exceeds the budget (those bins are truncation
    candidates, not padding waste — their fill_rate contribution is
    capped at 1 bin's budget so the rate stays <= 1 in their absence
    and interpretable with them).

    One aggregate over the (bucket, bin) groups of the assignment
    table — integer-only, oracle-exact."""
    per_bin = assignments.groupBy("bucket", "bin").agg(
        F.count(F.lit(1)).alias("__docs"),
        F.sum("n_tokens").alias("__toks"),
    )
    return per_bin.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("__docs").alias("n_docs"),
        F.sum("__toks").alias("n_tokens"),
        (F.count(F.lit(1)) * F.lit(int(budget))).alias("capacity"),
        F.round(
            F.sum(F.least(F.col("__toks"), F.lit(int(budget)))).cast("double")
            / (F.count(F.lit(1)) * F.lit(int(budget))).cast("double"),
            6,
        ).alias("fill_rate"),
        F.sum((F.col("__toks") > F.lit(int(budget))).cast("long")).alias(
            "n_overlong_bins"
        ),
    )
