"""Round-10 operator batch 4: streaming weighted sampling.

Family placement: the deterministic-sampling family gained its
weighted-without-replacement member this round (q_weighted_sample_es);
this is the same operator AS A STREAM — the top-k Efraimidis-Spirakis
reservoir maintained in group state while documents flow through, which
is precisely how A-ES is meant to be deployed (it IS a reservoir
algorithm: the top-k u^(1/w) keys over any prefix of the stream are a
valid weighted sample of that prefix). Joins the arbitrary-stateful
streaming tier next to q_stateful_running_totals_replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import tables
from ._util import work_dir
from .registry import query
from .round10b import _ES_DEN, _ES_SEED, _ES_TOPK
from .streaming_replay import _write_chunks, run_replay

_ES_KEYED = f"""
    keyed AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             exp(ln((CAST(('0x' || substr(md5('{_ES_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) + 1) / {_ES_DEN}) / n_chars) AS k
      FROM documents WHERE n_chars > 0
    )"""


@query(
    "q_stream_weighted_sample_replay",
    oracle=f"""
    WITH {_ES_KEYED},
    even AS (  -- batch-0 reservoir: chunk-0 docs only
      SELECT source, doc_id, w, k,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rnk
      FROM keyed WHERE (doc_id // 20) % 2 = 0
    ),
    fullr AS (  -- batch-1 reservoir: merged state over ALL docs
      SELECT source, doc_id, w, k,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rnk
      FROM keyed
    )
    -- a source emits in a batch only if it HAS rows in that chunk
    SELECT source, doc_id, w,
           CAST(FLOOR(1000000000.0 * k) AS BIGINT) AS key_q9,
           CAST(rnk AS BIGINT) AS rnk
    FROM even e WHERE rnk <= {_ES_TOPK}
    UNION ALL
    SELECT f.source, f.doc_id, f.w,
           CAST(FLOOR(1000000000.0 * f.k) AS BIGINT) AS key_q9,
           CAST(f.rnk AS BIGINT) AS rnk
    FROM fullr f
    WHERE f.rnk <= {_ES_TOPK}
      AND EXISTS (SELECT 1 FROM keyed k2
                  WHERE k2.source = f.source AND (k2.doc_id // 20) % 2 = 1)
    """,
    tags=("streaming", "stateful", "sampling", "weighted", "llm-data", "round10"),
)
def q_stream_weighted_sample_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Efraimidis-Spirakis weighted reservoir: the per-source
    top-{_ES_TOPK} u^(1/w) keys maintained in GROUP STATE
    (applyInPandasWithState) while the corpus replays in two
    deterministic micro-batches (chunked by doc_id parity) — A-ES
    deployed as the reservoir algorithm it is: after ANY stream prefix,
    the state holds a valid weighted sample without replacement of that
    prefix. Each batch emits the source's current reservoir, so the
    update-mode table is the even-docs reservoir plus the full-corpus
    reservoir — exactly what the oracle states, and the latter is
    row-identical to the batch q_weighted_sample_es (the batch==stream
    equality contract, pinned in pytest).

    Exactness: keys are computed by the SAME Spark SQL expression as the
    batch query (exact-hash uniforms, IEEE doubles), transported to the
    state function as float64 via Arrow with no re-rounding, merged with
    deterministic (key desc, doc_id) ordering, and quantized only for
    emission.

    Scale shape: state is O(sources x k) — stream-length independent,
    the reservoir guarantee; per batch each key's merge handles only its
    arrived rows + k state rows. The replay pins a small shuffle-
    partition count (state-store overhead is per partition per batch at
    fixture scale).
    """
    keyed = _es_keyed_frame(spark, sf_dir)
    base = work_dir("streamwsample", sf_dir)
    # Chunk by (doc_id DIV 20) parity, NOT doc_id parity: the fixture
    # assigns source = src(doc_id % 20), so doc parity would determine
    # SOURCE parity and each source would appear in only one batch —
    # DIV-20 parity alternates docs WITHIN every source instead.
    chunk = F.expr("(doc_id DIV 20) % 2")
    flat = _write_chunks(
        [keyed.filter(chunk == 0), keyed.filter(chunk == 1)],
        base,
    )
    stream = (
        spark.readStream.schema(keyed.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    sampled = build_reservoir_stream(stream)
    return run_replay(spark, sampled, base, shuffle_partitions=4, output_mode="update")


def _es_keyed_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, doc_id, w, k): the batch q_weighted_sample_es key frame —
    shared by the streaming replay and the chaos-restart test."""
    from .dedup2 import portable_hash64

    d = tables(spark, sf_dir)["documents"].filter(F.col("n_chars") > 0)
    u = (portable_hash64(F.col("doc_id").cast("string"), _ES_SEED) + 1) / F.lit(_ES_DEN)
    return d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("w"),
        F.exp(F.log(u) / F.col("n_chars")).alias("k"),
    )


def build_reservoir_stream(stream: DataFrame) -> DataFrame:
    """Wire the A-ES reservoir state operator onto a keyed stream —
    exposed so the chaos-restart test drives the SAME operator through a
    kill-and-resume checkpoint cycle."""
    import math

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("w", T.LongType()),
            T.StructField("key_q9", T.LongType()),
            T.StructField("rnk", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ks", T.ArrayType(T.DoubleType())),
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("ws", T.ArrayType(T.LongType())),
        ]
    )

    def reservoir(key, pdfs, state: GroupState):
        if state.exists:
            ks, ids, ws = state.get
            cur = list(zip(ks, ids, ws))
        else:
            cur = []
        for pdf in pdfs:
            cur.extend(
                zip(pdf["k"].tolist(), pdf["doc_id"].tolist(), pdf["w"].tolist())
            )
        # top-k by (key desc, doc_id asc) — the batch query's exact order
        cur.sort(key=lambda r: (-r[0], r[1]))
        cur = cur[:_ES_TOPK]
        state.update(
            ([r[0] for r in cur], [int(r[1]) for r in cur], [int(r[2]) for r in cur])
        )
        yield pd.DataFrame(
            {
                "source": [key[0]] * len(cur),
                "doc_id": [int(r[1]) for r in cur],
                "w": [int(r[2]) for r in cur],
                "key_q9": [math.floor(1e9 * r[0]) for r in cur],
                "rnk": list(range(1, len(cur) + 1)),
            }
        )

    return stream.groupBy("source").applyInPandasWithState(
        reservoir, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
