"""Round-7 operator batch 7: graph modularity, information-theoretic
dependence, leakage-safe target encoding, int8 covariance, RAKE
keyword extraction, and the SELECT * EXCEPT projection surface.

Determinism recipes (MEMORY/registry rules): every statistic leaves the
engine as exact integers or as a floor-quantized double expression
written token-identically in both engines over exact integer inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import barrier
from ..tables import tables
from .graph_q import _EDGES_CTE, _candidate_edges
from .registry import query

_STOPWORDS = ("the", "a")
_STOPWORDS_SQL = "('the', 'a')"


@query(
    "q_modularity_by_source",
    oracle=_EDGES_CTE
    + """,
    src AS (SELECT doc_id, source FROM documents),
    labeled AS (
      SELECT e.u, e.v, su.source AS src_u, sv.source AS src_v
      FROM e JOIN src su ON su.doc_id = e.u JOIN src sv ON sv.doc_id = e.v
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    intra AS (
      SELECT src_u AS source, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM labeled WHERE src_u = src_v GROUP BY src_u
    ),
    deg AS (
      SELECT s.source, CAST(COUNT(*) AS BIGINT) AS d_c
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) n
      JOIN src s ON s.doc_id = n.node
      GROUP BY s.source
    )
    SELECT d.source, COALESCE(i.e_c, 0) AS e_c, d.d_c, m.m,
           CAST(FLOOR(1000000000.0 * (CAST(COALESCE(i.e_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
                - (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                  * (CAST(d.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))))) AS BIGINT)
             AS q_contrib_1e9
    FROM deg d LEFT JOIN intra i ON i.source = d.source CROSS JOIN m
    """,
    tags=("graph", "community", "round7"),
)
def q_modularity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the source partition over the rare-shingle
    candidate graph: per community (source) the intra-edge count e_c,
    degree sum d_c, total edges m, and the quantized modularity
    contribution e_c/m - (d_c/2m)² — "does provenance explain the
    near-dup graph's structure?", the quality score for any community
    assignment (run it on LSH clusters, topics, or shards the same
    way). Integer censuses; the contribution is one fixed-shape double
    expression floored at x1e9.

    Scale shape: two key-partitioned joins (edge endpoints -> labels),
    two groupBys; m is a broadcast scalar. Nothing touches node-pair
    space beyond the existing bounded candidate edges."""
    edges = barrier(_candidate_edges(spark, sf_dir), "reuse")
    src = tables(spark, sf_dir)["documents"].select("doc_id", "source")
    labeled = (
        edges.join(
            F.broadcast(src.select(F.col("doc_id").alias("u"), F.col("source").alias("src_u"))),
            "u",
        ).join(
            F.broadcast(src.select(F.col("doc_id").alias("v"), F.col("source").alias("src_v"))),
            "v",
        )
    )
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        labeled.filter(F.col("src_u") == F.col("src_v"))
        .groupBy(F.col("src_u").alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    ends = edges.select(F.col("u").alias("node")).unionAll(edges.select(F.col("v").alias("node")))
    deg = (
        ends.join(F.broadcast(src.select(F.col("doc_id").alias("node"), "source")), "node")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    half = F.col("d_c").cast("double") / (F.lit(2.0) * F.col("m").cast("double"))
    contrib = F.floor(
        F.lit(1000000000.0)
        * (F.col("e_c").cast("double") / F.col("m").cast("double") - half * half)
    ).cast("bigint")
    return (
        deg.join(intra, "source", "left")
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(m))
        .select("source", "e_c", "d_c", "m", contrib.alias("q_contrib_1e9"))
    )


@query(
    "q_mutual_information",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    cells AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM documents GROUP BY lang, source
    ),
    mx AS (SELECT lang, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY lang),
    my AS (SELECT source, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY source)
    SELECT c.lang, c.source, c.n_xy, mx.n_x, my.n_y,
           CAST(c.n_xy * CAST(FLOOR(1000000.0 * LN(
             (CAST(c.n_xy AS DOUBLE) * CAST(n.n AS DOUBLE))
             / (CAST(mx.n_x AS DOUBLE) * CAST(my.n_y AS DOUBLE)))) AS BIGINT) AS BIGINT)
             AS mi_contrib_q
    FROM cells c JOIN mx ON mx.lang = c.lang JOIN my ON my.source = c.source CROSS JOIN n
    """,
    tags=("stats", "information-theory", "round7"),
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between language and source (the dependence
    detector chi-square can't calibrate: MI is the KL divergence of the
    joint from independence, in nats). Each cell carries its exact
    counts plus n_xy * floor(1e6 * ln(n_xy*N / (n_x*n_y))) — the ln is
    quantized per CELL before the integer multiply, so the total
    I(X;Y)*N*1e6 ≈ sum(mi_contrib_q) is an order-free integer sum
    (MEMORY recipe: floor-quantize ln per type before any aggregation).

    Scale shape: one groupBy for the joint histogram; marginals are
    rollups OF THE CELLS (never a second pass over the data); the cell
    count is bounded by |langs| x |sources|."""
    d = tables(spark, sf_dir)["documents"]
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    n = cells.agg(F.sum("n_xy").cast("bigint").alias("n"))
    mx = cells.groupBy("lang").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = cells.groupBy("source").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    lnq = F.floor(
        F.lit(1000000.0)
        * F.log(
            (F.col("n_xy").cast("double") * F.col("n").cast("double"))
            / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        )
    ).cast("bigint")
    return (
        cells.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "n_xy",
            "n_x",
            "n_y",
            (F.col("n_xy") * lnq).cast("bigint").alias("mi_contrib_q"),
        )
    )


@query(
    "q_target_encoding_loo",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_cat,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS sum_y
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, y, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(FLOOR(1000000.0 * (CAST(sum_y - y AS DOUBLE) / CAST(n_cat - 1 AS DOUBLE)))
             AS BIGINT) AS loo_enc_q
    FROM (
      SELECT a.o_orderpriority, a.n_cat, a.sum_y,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             COUNT(*) AS n_rows
      FROM orders o JOIN agg a ON a.o_orderpriority = o.o_orderpriority
      GROUP BY 1, 2, 3, 4
    )
    """,
    tags=("ml-prep", "target-encoding", "round7"),
)
def q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe sibling of
    q_target_encoding's smoothed mean: each row's encoding excludes its
    OWN target, enc_i = (sum_y - y_i)/(n - 1), so the feature cannot
    memorize the label it predicts. A binary target makes the per-row
    encodings collapse to two values per category; the result is the
    exact (category, y) -> encoding map with multiplicities (the full
    per-row frame is this map joined back — emitted compactly so the
    oracle hash stays row-count-bounded).

    Scale shape: one groupBy for the category aggregates, broadcast
    back, one bounded groupBy for the map — the per-row application at
    100 TB is a map-side broadcast join, no second shuffle."""
    o = tables(spark, sf_dir)["orders"]
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("sum_y"),
    )
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    rows = (
        o.select("o_orderpriority", y.alias("y"))
        .join(F.broadcast(agg), "o_orderpriority")
        .groupBy("o_orderpriority", "y", "n_cat", "sum_y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )
    enc = F.floor(
        F.lit(1000000.0)
        * ((F.col("sum_y") - F.col("y")).cast("double") / (F.col("n_cat") - 1).cast("double"))
    ).cast("bigint")
    return rows.select("o_orderpriority", "y", "n_rows", enc.alias("loo_enc_q"))


@query(
    "q_embedding_covariance_int8",
    oracle="""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
    ),
    dims AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
             CAST(round(v[i] / scale) AS BIGINT) AS x
      FROM quant, (SELECT unnest(range(1, 9)) AS i)
    ),
    marg AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
      FROM dims GROUP BY dim
    ),
    pairs AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j, CAST(SUM(a.x * b.x) AS BIGINT) AS sxy
      FROM dims a JOIN dims b ON b.vec_id = a.vec_id AND b.dim >= a.dim
      GROUP BY 1, 2
    )
    SELECT p.dim_i, p.dim_j, mi.n,
           CAST(mi.n * p.sxy - mi.sx * mj.sx AS BIGINT) AS cov_num
    FROM pairs p JOIN marg mi ON mi.dim = p.dim_i JOIN marg mj ON mj.dim = p.dim_j
    """,
    tags=("similarity", "covariance", "quantization", "round7"),
)
def q_embedding_covariance_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix (upper triangle + diagonal, first 8
    dims) of the int8-quantized embeddings: cov_num = n*Sxy - Sx*Sy as
    pure integers over the quantized values — the whitening /
    decorrelation pre-step for PCA/OPQ rotation training, computed
    without floats so the oracle hash is unconditional (eigen solvers
    stay downstream and off the certified path; the quantization reuses
    q_embedding_quantize_int8's oracle-green symmetric-abs-max scheme).

    Scale shape: one explode to (vec, dim, x) rows (8 per vector), one
    self equi-join on vec_id (fan-out 8x8 per vector, constant), two
    bounded groupBys — a single shuffle keyed on vec_id does the real
    work; output is O(dims²)."""
    e = tables(spark, sf_dir)["embeddings"]
    quant = e.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0").alias(
            "scale"
        ),
    ).filter(F.col("scale") > 0)
    dims = quant.select(
        "vec_id",
        "v",
        "scale",
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("dim"),
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.expr("CAST(round(element_at(v, dim) / scale) AS BIGINT)").alias("x"),
    )
    marg = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("x").cast("bigint").alias("sx")
    )
    a, b = dims.alias("a"), dims.alias("b")
    pairs = (
        a.join(b, (F.col("b.vec_id") == F.col("a.vec_id")) & (F.col("b.dim") >= F.col("a.dim")))
        .groupBy(F.col("a.dim").alias("dim_i"), F.col("b.dim").alias("dim_j"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).cast("bigint").alias("sxy"))
    )
    mi = marg.select(F.col("dim").alias("dim_i"), "n", F.col("sx").alias("sx_i"))
    mj = marg.select(F.col("dim").alias("dim_j"), F.col("sx").alias("sx_j"))
    return (
        pairs.join(F.broadcast(mi), "dim_i")
        .join(F.broadcast(mj), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            "n",
            (F.col("n") * F.col("sxy") - F.col("sx_i") * F.col("sx_j"))
            .cast("bigint")
            .alias("cov_num"),
        )
    )


@query(
    "q_rake_keywords",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    posd AS (
      SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS pos FROM t
    ),
    toks AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, ts[pos] AS tok FROM posd
    ),
    content AS (
      SELECT doc_id, pos, tok,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM toks WHERE tok NOT IN {_STOPWORDS_SQL} AND tok != ''
    ),
    phrases AS (
      SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, grp
      HAVING COUNT(*) <= 4
    ),
    pw AS (
      SELECT unnest(string_split(phrase, ' ')) AS word, plen FROM phrases
    ),
    wordstats AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
      FROM pw GROUP BY word
    ),
    distinct_phrases AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur FROM phrases GROUP BY phrase
    ),
    dpw AS (
      SELECT phrase, n_occur, unnest(string_split(phrase, ' ')) AS word
      FROM distinct_phrases
    ),
    scored AS (
      SELECT dpw.phrase, dpw.n_occur,
             CAST(SUM(ws.deg * 1000000 // ws.freq) AS BIGINT) AS score_q
      FROM dpw JOIN wordstats ws ON ws.word = dpw.word
      GROUP BY dpw.phrase, dpw.n_occur
    )
    SELECT phrase, n_occur, score_q FROM scored
    ORDER BY score_q DESC, phrase LIMIT 20
    """,
    tags=("text", "keywords", "rake", "round7"),
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (gaps-and-islands over token
    positions, capped at 4 words); each word scores deg/freq where
    freq counts phrase memberships and deg sums the lengths of its
    phrases; a phrase scores the sum of its words' scores. Word scores
    are quantized by integer division (deg*1e6 DIV freq) BEFORE the
    phrase sum, so the top-20 cut (score desc, phrase) is exact.

    Scale shape: the islands pass is a per-document window (parallel
    across docs); word stats are one groupBy over phrase-word pairs;
    scoring joins the bounded vocabulary back via broadcast; the final
    cut is TakeOrdered."""
    d = tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    content = (
        toks.filter(~F.col("tok").isin(*_STOPWORDS) & (F.col("tok") != ""))
        .withColumn(
            "grp",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    phrases = (
        content.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .filter(F.col("plen") <= 4)
    )
    words = phrases.select(F.explode(F.split("phrase", " ")).alias("word"), "plen")
    wordstats = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    distinct_phrases = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occur")
    )
    scored = (
        distinct_phrases.select("phrase", "n_occur", F.explode(F.split("phrase", " ")).alias("word"))
        .join(F.broadcast(wordstats), "word")
        .groupBy("phrase", "n_occur")
        .agg(F.sum(F.expr("deg * 1000000 DIV freq")).cast("bigint").alias("score_q"))
    )
    return scored.orderBy(F.col("score_q").desc(), "phrase").limit(20)


@query(
    "q_select_except",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
    FROM lineitem
    WHERE l_orderkey < 40 AND l_quantity > 45
    """,
    tags=("sql-surface", "projection", "round7"),
)
def q_select_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * EXCEPT (...) — subtractive projection (Spark 4): name
    the columns to DROP instead of the ones to keep, the ergonomic
    form for wide tables where "everything but the payload blobs" is
    the common scan. The oracle enumerates the surviving columns
    explicitly, proving the subtraction resolves to the same schema;
    column pruning still reaches the parquet scan because EXCEPT is
    resolved at analysis time, not execution time."""
    tables(spark, sf_dir)["lineitem"].createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT * EXCEPT (l_partkey, l_suppkey, l_extendedprice, l_discount,
                         l_tax, l_shipdate)
        FROM lineitem
        WHERE l_orderkey < 40 AND l_quantity > 45
        """
    )
