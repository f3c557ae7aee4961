"""Python extension slots: pandas_udf, applyInPandas, UDTF, mapInArrow.

The reference's entire API is user-function slots (Mapper/Reducer/Partitioner,
``src/mapreduce.h:11-14``). The DataFrame engine's equivalents are:

- scalar ``@pandas_udf``: vectorized per-row transform (Arrow batches, not
  row-at-a-time) — the Mapper slot for record-wise logic;
- ``applyInPandas`` over a groupBy: the Reducer slot — the user function sees
  one group's rows exactly like the reference's Reducer sees one key's value
  iterator (``src/mapreduce.c:215-238``);
- ``udtf``: the table-function slot — one input row fans out to N output
  rows, i.e. the Mapper's emit-many contract (``MR_Emit`` called in a loop,
  ``src/mapreduce.c:180-190``) as a first-class lateral join;
- ``mapInArrow``: the lowest-overhead escape hatch — user code sees raw
  Arrow record batches with no pandas conversion at all.

Both queries here compute something ALSO expressible with built-ins, on
purpose: the DuckDB oracle (and the built-in twin it encodes) proves the
Python slot produces bit-identical results. Production guidance stands: use
built-ins when they exist (docstring of each query names the built-in twin);
these slots are for logic Spark genuinely lacks.

Scale posture: pandas_udf/applyInPandas move Arrow record batches across the
Python boundary (~10-100x the throughput of row pickling); applyInPandas
shuffles once on the group key and holds ONE group per invocation in memory —
fine for per-language groups, would need salting for a pathological mega-group.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from parallel_mapreduce_spark.registry import query
from parallel_mapreduce_spark.sources import load_table


def _vowel_ratio_kernel(text: pd.Series) -> pd.Series:
    """Vectorized scalar slot: vowels / characters (built-in twin: a
    regexp_count/length expression)."""
    n_vowels = text.str.count("[aeiou]")
    n_chars = text.str.len()
    return (n_vowels / n_chars.where(n_chars > 0)).astype("float64")


def vowel_ratio_udf():
    # Built lazily: pandas_udf parses its DDL return type against the active
    # session, so decorating at import time would require a SparkContext
    # before any session exists.
    return pandas_udf(_vowel_ratio_kernel, "double")


@query(
    "pandas_udf_vowel_ratio",
    oracle="""
    SELECT doc_id,
           ROUND(len(regexp_extract_all(text, '[aeiou]')) * 1.0
                 / NULLIF(strlen(text), 0), 4) AS vratio
    FROM documents
    """,
)
def pandas_udf_vowel_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(vowel_ratio_udf()(F.col("text")), 4).alias("vratio")
    )


ZSCORE_SCHEMA = "doc_id bigint, lang string, zscore double"


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reducer-slot kernel: one language's docs arrive as one DataFrame."""
    mu = pdf["n_chars"].mean()
    sd = pdf["n_chars"].std(ddof=1)  # sample stddev = Spark stddev_samp
    z = (pdf["n_chars"] - mu) / sd if sd and sd > 0 else pdf["n_chars"] * 0.0
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "zscore": z.round(4)}
    )


@query(
    "pandas_grouped_zscore",
    oracle="""
    SELECT doc_id, lang,
           ROUND((n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                 / STDDEV_SAMP(n_chars) OVER (PARTITION BY lang), 4) AS zscore
    FROM documents
    """,
)
def pandas_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document length via the grouped-UDAF slot.

    Built-in twin (what production code should use, and what the oracle
    encodes): AVG/STDDEV window over lang. The Python detour exists to pin
    the applyInPandas contract against an exact oracle.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return docs.groupBy("lang").applyInPandas(_zscore_group, schema=ZSCORE_SCHEMA)


# --------------------------------------------------------------------------
# UDTF slot: one doc -> N sentence rows via a Python table function.
# --------------------------------------------------------------------------
_SENT_STRIP = " \t\n\r"
UDTF_RETURN = "sent_idx bigint, sentence string, n_tokens bigint"


class _SplitSentences:
    """Table-function kernel: split on '.', trim, drop empties, number the
    survivors 0..n-1 in document order; n_tokens counts nonempty ' '-split
    pieces (same convention as functions.text.tokens)."""

    def eval(self, text):  # noqa: D102 — UDTF contract method
        if text is None:
            return
        idx = 0
        for raw in text.split("."):
            s = raw.strip(_SENT_STRIP)
            if s:
                yield idx, s, sum(1 for t in s.split(" ") if t)
                idx += 1


@query(
    "udtf_split_sentences",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             unnest(string_split(text, '.')) AS part,
             generate_subscripts(string_split(text, '.'), 1) AS i
      FROM documents
    ), tr AS (
      SELECT doc_id,
             trim(part, ' ' || chr(9) || chr(10) || chr(13)) AS sentence, i
      FROM p
    ), ne AS (
      SELECT doc_id, sentence,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1
                  AS BIGINT) AS sent_idx
      FROM tr WHERE sentence <> ''
    )
    SELECT doc_id, sent_idx, sentence,
           CAST(len(list_filter(string_split(sentence, ' '), x -> x <> ''))
                AS BIGINT) AS n_tokens
    FROM ne
    """,
)
def udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence exploder through the Python UDTF slot (lateral join).

    Built-in twin (and what the oracle encodes): posexplode over a
    split+trim+filter expression. The UDTF detour pins Spark's
    table-function contract: per-row fan-out, output columns joined
    laterally to the input row's columns.

    Scale posture: a UDTF is a per-row Python stage (the slowest slot) —
    the corpus crosses the Python boundary once, partition-parallel, no
    shuffle; production code should prefer the built-in twin wherever the
    fan-out is expressible.
    """
    from pyspark.sql.functions import udtf

    # Registered per-call: the udtf wrapper parses its DDL return type
    # against the active session (same reason vowel_ratio_udf is lazy).
    spark.udtf.register("split_sentences", udtf(_SplitSentences, returnType=UDTF_RETURN))
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_tokens
        FROM documents d, LATERAL split_sentences(d.text) s
        """
    )


# --------------------------------------------------------------------------
# mapInArrow slot: raw Arrow record batches, no pandas conversion.
# --------------------------------------------------------------------------
def _arrow_lengths_kernel(batches):
    """Arrow-native kernel: codepoint + byte length per document. Runs
    entirely on Arrow buffers (pyarrow.compute), the cheapest possible
    Python crossing."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        text = b.column(b.schema.get_field_index("text"))
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("doc_id")),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(pc.binary_length(text), pa.int64()),
            ],
            names=["doc_id", "n_cp", "n_bytes"],
        )


@query(
    "arrow_doc_lengths",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_cp,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def arrow_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codepoint vs UTF-8-byte length via the mapInArrow slot.

    Built-in twin: char_length/octet_length (what production code should
    use). The Arrow detour pins the record-batch contract — schema in,
    declared schema out, batch-for-batch — with zero pandas materialization;
    per-partition streaming, no shuffle, blob columns never widened.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        _arrow_lengths_kernel, schema="doc_id bigint, n_cp bigint, n_bytes bigint"
    )


# --------------------------------------------------------------------------
# Grouped-AGGREGATE pandas UDF — the true UDAF slot (one Arrow batch of a
# group's column in, ONE scalar out), distinct from applyInPandas (which
# returns a frame). Catalyst runs it inside a hash aggregate, so unlike
# applyInPandas there is no per-group pandas frame materialization beyond
# the aggregated column. Built-in twin: percentile(0.75) - percentile(0.25)
# — numpy's default linear interpolation IS quantile_cont's formula, which
# is what makes the oracle exact.
# --------------------------------------------------------------------------
def iqr_udf():
    @pandas_udf("double")
    def _iqr(v: pd.Series) -> float:
        import numpy as np

        q75, q25 = np.percentile(v.to_numpy(dtype="float64"), [75.0, 25.0])
        return float(np.floor((q75 - q25) * 10000 + 0.5) / 10000)

    return _iqr


def count_udf():
    # Spark refuses to mix grouped-agg pandas UDFs with built-in aggregates
    # in one agg() (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a
    # second pandas aggregate rather than F.count.
    @pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return int(len(v))

    return _n


@query(
    "pandas_grouped_agg_iqr",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR((quantile_cont(n_chars, 0.75)
                  - quantile_cont(n_chars, 0.25)) * 10000 + 0.5) / 10000
             AS iqr_chars
    FROM documents GROUP BY lang
    """,
)
def pandas_grouped_agg_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interquartile range of document length per language via a
    grouped-agg pandas UDF (built-in twin: F.percentile deltas)."""
    docs = load_table(spark, sf_dir, "documents")
    chars = F.col("n_chars").cast("double")
    return docs.groupBy("lang").agg(
        count_udf()(chars).alias("n_docs"),
        iqr_udf()(chars).alias("iqr_chars"),
    )


# --------------------------------------------------------------------------
# pandas-on-Spark API surface: the same segment-revenue aggregate written
# against `pyspark.pandas` (merge + groupby named aggregation) and handed
# back to the DataFrame world with to_spark(). The point is the COMPILER
# property, not the syntax: the pandas-shaped program lowers to the same
# Catalyst plan family (broadcast hash join + partial aggregate) as the
# DataFrame original — pandas ergonomics, distributed execution, no
# driver-side pandas frame ever materializes. The oracle is the plain SQL
# join+groupby, so the lowering itself is value-checked.
# --------------------------------------------------------------------------
@query(
    "ps_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def ps_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyspark.pandas as ps  # noqa: F401  (activates the API)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    m = orders.pandas_api().merge(
        cust.pandas_api(), left_on="o_custkey", right_on="c_custkey"
    )
    g = m.groupby("c_mktsegment", as_index=False).agg(
        n_orders=("o_totalprice", "count"),
        revenue=("o_totalprice", "sum"),
    )
    return g.to_spark().select(
        "c_mktsegment",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("revenue", 4).alias("revenue"),
    )


def _cogroup_user_value_share(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """cogrouped-map kernel: per user, events (left) vs the user's segment
    row (right) -> one summary row. Runs once per user_id group with BOTH
    sides' rows for that key materialized as pandas frames."""
    if left.empty:
        return pd.DataFrame(
            columns=["user_id", "segment", "n_events", "total_value"]
        )
    seg = right["segment"].iloc[0] if not right.empty else "<none>"
    return pd.DataFrame(
        {
            "user_id": [int(left["user_id"].iloc[0])],
            "segment": [seg],
            "n_events": [len(left)],
            "total_value": [round(float(left["value"].sum()), 4)],
        }
    )


# --------------------------------------------------------------------------
# Co-grouped pandas slot (`groupby().cogroup(...).applyInPandas`): the last
# Python-surface API family — both sides of a key are shuffled to the same
# task and handed to the kernel as two pandas frames. The right shape for
# per-key reconciliation logic too imperative for a join (sessionized
# diffing, per-entity model state). Scale: one co-partitioned shuffle per
# side, Arrow-batched; the kernel sees ONE key's rows, never a partition's.
# The oracle is the equivalent LEFT JOIN + aggregate, value-checking the
# cogroup semantics (including users absent from the dimension side).
# --------------------------------------------------------------------------
@query(
    "cogrouped_user_value_share",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CASE WHEN user_id % 3 = 0 THEN 'free'
                  WHEN user_id % 3 = 1 THEN 'pro' END AS segment
      FROM (SELECT DISTINCT user_id FROM events)
      WHERE user_id % 3 < 2
    )
    SELECT e.user_id,
           COALESCE(seg.segment, '<none>') AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS total_value
    FROM events e LEFT JOIN seg ON e.user_id = seg.user_id
    GROUP BY e.user_id, seg.segment
    """,
)
def cogrouped_user_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    # Deterministic partial dimension: users with user_id % 3 == 2 are
    # deliberately ABSENT so the kernel's missing-right-side branch runs.
    seg = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 3 < 2)
        .select(
            "user_id",
            F.when(F.col("user_id") % 3 == 0, "free")
            .otherwise("pro")
            .alias("segment"),
        )
    )
    return (
        ev.groupBy("user_id")
        .cogroup(seg.groupBy("user_id"))
        .applyInPandas(
            _cogroup_user_value_share,
            "user_id bigint, segment string, n_events bigint, "
            "total_value double",
        )
    )


# --------------------------------------------------------------------------
# Polymorphic UDTF (round 6): Spark 4's `analyze` API — the output schema
# is COMPUTED AT PLAN TIME from the call's constant arguments, the one
# UDTF capability the fixed-DDL slot above cannot show. Here the table
# function explodes word n-grams into one COLUMN PER POSITION (t1..tn), so
# `poly_ngrams(text, 3)` and `poly_ngrams(text, 4)` have different result
# schemas from one class. Catalyst sees the analyze-derived schema like
# any static one (column pruning and downstream resolution work normally);
# the oracle's column list doubles as the schema proof.
# --------------------------------------------------------------------------
_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
POLY_N = 3  # the registered query's n (constant at plan time)
POLY_DOC_LIMIT = 50  # bound the exploded output: doc_id < 50


class _PolyNgrams:
    @staticmethod
    def analyze(text, n):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )
        from pyspark.sql.udtf import AnalyzeResult

        if not isinstance(n.value, int) or n.value < 1:
            raise ValueError("poly_ngrams: n must be a positive int literal")
        return AnalyzeResult(
            StructType(
                [StructField("idx", LongType())]
                + [
                    StructField(f"t{i}", StringType())
                    for i in range(1, n.value + 1)
                ]
            )
        )

    def eval(self, text: str, n: int):
        # Same token class as functions.text.tokens(): split on ' ',
        # empties dropped.
        toks = [t for t in (text or "").split(" ") if t]
        for i in range(len(toks) - n + 1):
            yield (i + 1, *toks[i : i + n])


@query(
    "udtf_poly_ngrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks
      FROM documents WHERE doc_id < {POLY_DOC_LIMIT}
    ), u AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - {POLY_N - 1}),
               i -> {{'idx': i, 't1': toks[i], 't2': toks[i + 1],
                      't3': toks[i + 2]}}
             )) AS s
      FROM t
    )
    SELECT doc_id, CAST(s.idx AS BIGINT) AS idx,
           s.t1 AS t1, s.t2 AS t2, s.t3 AS t3
    FROM u
    """,
)
def udtf_poly_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL poly_ngrams(text, 3) over a bounded doc subset: the result
    schema (idx, t1, t2, t3) exists only because analyze() built it from
    the literal 3 — the schema assertion is free in the oracle compare.
    The doc_id filter sits in the subquery so the fan-out runs on 50 docs,
    not the corpus; one partition-parallel Python stage, no shuffle."""
    from pyspark.sql.functions import udtf

    spark.udtf.register("poly_ngrams", udtf(_PolyNgrams))
    return spark.sql(
        f"""
        SELECT d.doc_id, s.idx, s.t1, s.t2, s.t3
        FROM (SELECT doc_id, text FROM documents
              WHERE doc_id < {POLY_DOC_LIMIT}) d,
             LATERAL poly_ngrams(d.text, {POLY_N}) s
        """
    )


# --------------------------------------------------------------------------
# UDTF with a TABLE argument (round 6): `udtf(TABLE(...) PARTITION BY k
# ORDER BY o)` hands one PARTITION of input rows to each UDTF instance,
# in the requested order, with terminate() emitting the per-partition
# result. This is Spark 4's exact analogue of the reference's sorted
# grouped-reduce contract (mapreduce.c's per-partition sort + group
# dispatch, SURVEY.md P5-P7): keys hash to partitions, rows arrive
# sorted, user code folds them streamingly. The `ids_ascending` output
# is the order proof — it can only be TRUE if the engine actually
# delivered rows in ORDER BY doc_id order — and chars counts Python
# len() (codepoints), matching the oracle's length().
# --------------------------------------------------------------------------
class _LangFold:
    def __init__(self) -> None:
        self.lang = None
        self.seen = False
        self.n = 0
        self.chars = 0
        self.prev = None
        self.ascending = True

    def eval(self, row) -> None:  # noqa: D102 — UDTF contract method
        # Totality guards (same stance as map_higher_order_report): a NULL
        # text contributes 0 chars (the oracle's SUM(length(text)) skips
        # NULLs, COALESCEd to 0 for an all-NULL group), and a NULL-lang
        # partition is EMITTED as the lang=NULL group — PARTITION BY lang
        # routes it to one instance, exactly like GROUP BY lang keeps the
        # NULL group in the oracle. `seen` (not `lang is not None`) gates
        # terminate() so that group isn't silently dropped.
        self.lang = row["lang"]
        self.seen = True
        self.n += 1
        text = row["text"]
        self.chars += len(text) if text is not None else 0
        doc_id = row["doc_id"]
        if (
            self.prev is not None
            and doc_id is not None
            and doc_id <= self.prev
        ):
            self.ascending = False
        if doc_id is not None:
            self.prev = doc_id

    def terminate(self):  # noqa: D102 — UDTF contract method
        if self.seen:
            yield self.lang, self.n, self.chars, self.ascending


@query(
    "udtf_table_arg_lang_fold",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars,
           TRUE AS ids_ascending
    FROM documents
    GROUP BY lang
    """,
)
def udtf_table_arg_lang_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "pmr_lang_fold",
        udtf(
            _LangFold,
            returnType="lang string, n_docs bigint, total_chars bigint,"
            " ids_ascending boolean",
        ),
    )
    return spark.sql(
        """
        SELECT * FROM pmr_lang_fold(
            TABLE(SELECT doc_id, lang, text FROM documents)
            PARTITION BY lang ORDER BY doc_id)
        """
    )


# --------------------------------------------------------------------------
# Grouped applyInArrow (round 6): the last cell of the Python slot
# matrix — per-GROUP user code over raw pyarrow Tables, no pandas
# materialization at all (mapInArrow's grouped sibling). The kernel here
# is a columnar reduction (pyarrow.compute over the group's table), the
# shape for group-level logic whose inputs are large arrays or binary
# blobs where pandas conversion would double memory.
# --------------------------------------------------------------------------
def _lang_arrow_summary(table):
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = table.column("doc_id")
    return pa.table(
        {
            "lang": [table.column("lang")[0].as_py()],
            "n_docs": [table.num_rows],
            "id_span": [pc.max(ids).as_py() - pc.min(ids).as_py()],
        }
    )


@query(
    "applyinarrow_lang_summary",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(doc_id) - MIN(doc_id) AS BIGINT) AS id_span
    FROM documents
    GROUP BY lang
    """,
)
def applyinarrow_lang_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    return docs.groupBy("lang").applyInArrow(
        _lang_arrow_summary, schema="lang string, n_docs bigint, id_span bigint"
    )


# --------------------------------------------------------------------------
# SCALAR_ITER pandas_udf (Iterator[pd.Series] -> Iterator[pd.Series]): the
# last pandas_udf variant in the matrix, and the one whose EXISTENCE is the
# point — the iterator form hands one worker ALL of its partition's Arrow
# batches through a single generator invocation, so expensive one-time
# setup (load a tokenizer, an ONNX session, a scoring table) runs once per
# task instead of once per batch. The plain scalar form re-enters the
# kernel per batch with no cross-batch state.
#
# The "model" here is a token-weight memo (portable 60-bit hash mod 7 —
# phash60's convention, reimplemented in pure Python for the worker) built
# up ACROSS batches inside the generator: exactly the lifecycle a real
# model-scoring UDF needs, deterministic so the DuckDB oracle reproduces
# every weight. Built-in twin (what production should use when the "model"
# is expressible): explode + sum of the same md5-prefix expression —
# encoded as the oracle.
# --------------------------------------------------------------------------
TOKEN_WEIGHT_MOD = 7


def _token_weight_batches(batches):
    """Iterator kernel: per-task weight memo shared across Arrow batches."""
    import hashlib

    cache: dict[str, int] = {}  # the once-per-task "model"

    def weight(tok: str) -> int:
        v = cache.get(tok)
        if v is None:
            v = (
                int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                % TOKEN_WEIGHT_MOD
            )
            cache[tok] = v
        return v

    for texts in batches:
        # Totality guard (the map_higher_order_report convention): a NULL
        # text scores 0 rather than crashing the worker — the oracle's
        # LEFT JOIN + COALESCE mirrors it.
        yield texts.fillna("").map(
            lambda t: sum(weight(w) for w in t.split(" ") if w)
        ).astype("int64")


def _token_weight_kernel(
    batches: Iterator[pd.Series],
) -> Iterator[pd.Series]:
    # typing.Iterator hints (module-level import: under `from __future__
    # import annotations` the hints are strings, and pyspark's
    # infer_eval_type resolves them against module globals) select the
    # SCALAR_ITER eval type.
    yield from _token_weight_batches(batches)


def token_weight_iter_udf():
    # Lazy like vowel_ratio_udf (DDL type parsing needs an active session).
    return pandas_udf(_token_weight_kernel, "long")


@query(
    "scalar_iter_token_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS word FROM documents
    ), scored AS (
      SELECT doc_id,
             CAST(SUM(('0x' || substr(md5(word), 1, 15))::BIGINT
                      % {TOKEN_WEIGHT_MOD}) AS BIGINT) AS score
      FROM toks
      GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(s.score, CAST(0 AS BIGINT)) AS score
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """,
)
def scalar_iter_token_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_weight_iter_udf()(F.col("text")).alias("score")
    )


# --------------------------------------------------------------------------
# Barrier execution (round 7) — the LAST Python execution mode with no
# exhibit: ``mapInPandas(..., barrier=True)`` gang-schedules every task of
# the stage simultaneously (all-or-nothing, no stragglers launched late)
# and gives each task ``BarrierTaskContext`` — ``allGather`` here performs
# the synchronous all-reduce every task of a distributed-training step
# needs (each task ends up holding the GLOBAL aggregate). This is the
# bridge from the data engine to gang-scheduled model training: the same
# API carries parameter sync for an in-Spark training loop. The exhibit
# computes a global (row count, char sum) redundantly in EVERY task via
# allGather and value-checks that each task's copy equals the exact
# corpus aggregate. Output is partition-count-INDEPENDENT by design
# (per-task local counts are round-robin-dependent, so only the global
# values and the task grid cross the value hash). BARRIER_TASKS is 2:
# barrier stages deadlock if the cluster has fewer simultaneously-free
# slots than tasks, so the exhibit stays runnable on any >= 2-core
# driver session.
# --------------------------------------------------------------------------
BARRIER_TASKS = 2


@query(
    "barrier_allgather_stats",
    oracle=f"""
    SELECT p.part,
           CAST(COUNT(*) AS BIGINT) AS global_rows,
           CAST(SUM(n_chars) AS BIGINT) AS global_chars,
           {BARRIER_TASKS} AS n_tasks
    FROM documents
    CROSS JOIN (VALUES {", ".join(f"({i})" for i in range(BARRIER_TASKS))})
      AS p(part)
    GROUP BY p.part
    """,
)
def barrier_allgather_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per barrier task: the global (rows, chars) aggregate that
    task reconstructed from allGather — identical in every task, equal to
    the exact corpus aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def step(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        local_rows = 0
        local_chars = 0
        for pdf in it:
            local_rows += len(pdf)
            local_chars += int(pdf["n_chars"].sum())
        gathered = ctx.allGather(f"{local_chars}:{local_rows}")
        g_chars = sum(int(x.split(":")[0]) for x in gathered)
        g_rows = sum(int(x.split(":")[1]) for x in gathered)
        yield pd.DataFrame(
            {
                "part": [ctx.partitionId()],
                "global_rows": [g_rows],
                "global_chars": [g_chars],
                "n_tasks": [len(gathered)],
            }
        )

    return docs.repartition(BARRIER_TASKS).mapInPandas(
        step,
        "part int, global_rows long, global_chars long, n_tasks int",
        barrier=True,
    )
