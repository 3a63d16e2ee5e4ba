#!/usr/bin/env python3
"""Per-key stock-PySpark baselines for BASELINE.md: the 5 anchor keys and
the slowest catalog keys (the r13 top-15 and the r16 extensions).

Protocol, the same as graft.Bench's: PySpark 4.1.2 (the installed engine),
master=local[4], spark.sql.shuffle.partitions=4, UTC, the sf0.1 tables,
one untimed warm-up sweep then 3 interleaved warm sweeps, MEDIAN per key,
every result fully written to Spark's `noop` sink. `count()` would let
Catalyst prune each plan down to what the row count needs (for
sample_importance_dsir, a parquet count), and graft.Bench times the full
result, so the two sides compare like with like only under the same sink.

Each baseline re-expresses the key's algorithm in STOCK PySpark/Spark SQL
exactly as the DuckDB oracle (oracle_sql.json) specifies it — same
candidate bounds, same tie-breaks — but with none of the engine's private
machinery: HOF zip_with/aggregate dot products instead of the codegen
DotProduct/L2Dist2 kernels, no session index caches (every pass retrains),
and plain DataFrame loops with localCheckpoint for the iterative parts
(connected components), which is what a careful PySpark user writes.
Row counts (one untimed count() per key after the timed sweeps) are
printed so they can be cross-checked against the engine's output.

Usage: python3 tools/baseline15.py [sf_dir] [key,key,...]
Output: one JSON line {"queries": {key: median_sec}, "counts": {...}}.

Dialect notes (DuckDB oracle -> Spark SQL):
  list_dot_product(a,b)  -> aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)
  list/array [i]         -> element_at(arr, i)
  list(c ORDER BY d)     -> transform(array_sort(collect_list(struct(d,c))), s -> s.c)
  x // y                 -> x div y
  ('0x'||substr(md5,1,n))::BIGINT -> CAST(conv(substr(md5,1,n),16,10) AS BIGINT)
  range(n) t / t.range   -> range(n) t / t.id
  unnest(list_transform((x,i) -> struct)) -> LATERAL VIEW posexplode
"""
import json
import os
import statistics
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
# r14: same-core comparisons at other core counts (the sample_balanced_class
# crossover is a PARALLELISM story — the stock plan windows over 3 class
# partitions no matter how many cores exist). Default stays the original 4.
CPUS = int(os.environ.get("GRAFT_BASELINE_CPUS", "4"))

spark = (
    SparkSession.builder.master(f"local[{CPUS}]")
    .appName("graft-baseline15")
    .config("spark.sql.shuffle.partitions", CPUS)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    # no console progress bar: its carriage-return `[Stage N:>...]` updates
    # share stderr with the `[pass N] key: secs` lines below
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("WARN")
for t in ["lineitem", "orders", "customer", "nation", "region", "part", "events",
          "documents", "embeddings"]:
    spark.read.parquet(f"{SF}/{t}.parquet").createOrReplaceTempView(t)

# ---------------------------------------------------------------- helpers

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def dot(a, b):
    return DOT.format(a=a, b=b)


L2 = (
    "CAST(aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"
)

EV = "ev AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
E6 = (
    "e6 AS (SELECT vec_id, transform(embedding, "
    "x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS x6a FROM embeddings)"
)
G = (
    "g AS (SELECT vec_id, CAST(pos AS BIGINT) AS dim, x6 FROM embeddings "
    "LATERAL VIEW posexplode(transform(embedding, "
    "x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))) p AS pos, x6)"
)
# NB: Spark SQL string literals are themselves backslash-escaped, and the
# parser DROPS the backslash of unrecognized escapes — a single-escaped
# '\f' reaches the regex engine as the literal character 'f' (and '\x0B'
# as 'x0B'), silently adding f/x/0/B to the whitespace class. Double every
# escape so the regex engine sees \t \n \r \f \x0B (r16 fix; found when
# the simhash baseline's fingerprints disagreed with the oracle's).
NORM = "lower(trim(regexp_replace(text, '[ \\\\t\\\\n\\\\r\\\\f\\\\x0B]+', ' ')))"


def kmeans_cells_cte(probes):
    """Dynamic-K integer-grid k-means -> cells(vec_id, cid); the oracle's
    gridCellsCteSql chain in Spark dialect (K = max(4, n/250), 2 Lloyd
    steps, ties to the lower cid)."""
    d2 = L2.format(a="e.x6a", b="c.c6a")

    def step(cin, out):
        return (
            f"ca_{cin} AS (SELECT cid, transform(array_sort(collect_list(struct(dim, c6))), "
            f"s -> s.c6) AS c6a FROM {cin} GROUP BY cid), "
            f"d_{out} AS (SELECT e.vec_id, c.cid, {d2} AS dist2 FROM e6 e CROSS JOIN ca_{cin} c), "
            f"a_{out} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d_{out}) WHERE rn = 1), "
            f"u_{out} AS (SELECT a.cid, g.dim, sum(g.x6) div count(*) AS c6n "
            f"FROM a_{out} a JOIN g ON g.vec_id = a.vec_id GROUP BY 1, 2), "
            f"{out} AS (SELECT c.cid, c.dim, coalesce(u.c6n, c.c6) AS c6 "
            f"FROM {cin} c LEFT JOIN u_{out} u ON u.cid = c.cid AND u.dim = c.dim)"
        )

    return (
        f"{E6}, {G}, "
        "nk AS (SELECT greatest(CAST(4 AS BIGINT), count(*) div 250) AS k FROM embeddings), "
        "seed AS (SELECT vec_id, CAST(rn AS BIGINT) - 1 AS cid FROM "
        "(SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings) "
        "WHERE rn <= (SELECT k FROM nk)), "
        "c0 AS (SELECT s.cid, g.dim, g.x6 AS c6 FROM seed s JOIN g ON g.vec_id = s.vec_id), "
        + step("c0", "c1")
        + ", "
        + step("c1", "c2")
        + ", "
        "ca_c2 AS (SELECT cid, transform(array_sort(collect_list(struct(dim, c6))), "
        "s -> s.c6) AS c6a FROM c2 GROUP BY cid), "
        f"d_fin AS (SELECT e.vec_id, c.cid, {d2} AS dist2 FROM e6 e CROSS JOIN ca_c2 c), "
        "cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER "
        f"(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d_fin) WHERE rn <= {probes})"
    )


def min_label_components(edges0, nodes):
    """Min-label connected components over undirected edges0(id_a, id_b):
    the plain PySpark formulation (double pointer-jump per round,
    localCheckpoint, Sigma-label fixpoint) a reference pipeline runs."""
    e = edges0.selectExpr("id_a AS src", "id_b AS dst").unionByName(
        edges0.selectExpr("id_b AS src", "id_a AS dst")
    )
    e = (
        e.unionByName(e.selectExpr("src", "src AS dst"))
        .distinct()
        .repartition("dst")
        .localCheckpoint(eager=False)
    )

    def jump2(prop):
        j1 = prop.join(
            prop.selectExpr("node AS cluster_id", "cluster_id AS jump"), "cluster_id"
        ).selectExpr("node", "jump AS cluster_id")
        return j1.join(
            j1.selectExpr("node AS cluster_id", "cluster_id AS jump"), "cluster_id"
        ).selectExpr("node", "jump AS cluster_id")

    labels = jump2(
        e.groupBy(F.col("src").alias("node")).agg(F.min("dst").alias("cluster_id"))
    ).localCheckpoint(eager=False)
    prev = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for _ in range(20):
        prop = (
            e.join(labels.selectExpr("node AS dst", "cluster_id"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        labels = jump2(prop).localCheckpoint(eager=False)
        cur = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    return nodes.join(labels.withColumnRenamed("node", "vec_id"), "vec_id", "left").selectExpr(
        "vec_id",
        "coalesce(cluster_id, vec_id) AS cluster_id",
        "coalesce(cluster_id, vec_id) = vec_id AS kept",
    )


# ---------------------------------------------------------------- queries

SHINGLE_CTE = (
    f"ws AS (SELECT doc_id, split({NORM}, ' ') AS w FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, "
    "explode(transform(sequence(1, size(w) - 2), i -> concat_ws(' ', "
    "element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))) AS s "
    "FROM ws WHERE size(w) >= 3))"
)


def q_dedup_near_jaccard():
    return spark.sql(
        f"WITH {SHINGLE_CTE}, "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT id_a, id_b, n_inter, "
        "round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8"
    )


def q_dedup_containment():
    return spark.sql(
        f"WITH ws0 AS (SELECT doc_id, split({NORM}, ' ') AS w FROM documents), "
        "exc AS (SELECT doc_id + 1000000000000 AS doc_id, "
        "array_join(slice(w, 1, CAST(greatest(size(w) div 2, 3) AS INT)), ' ') AS text "
        "FROM ws0 WHERE doc_id % 20 = 0), "
        "corpus AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM exc), "
        f"ws AS (SELECT doc_id, split({NORM}, ' ') AS w FROM corpus), "
        "sh AS (SELECT DISTINCT doc_id, s FROM (SELECT doc_id, "
        "explode(transform(sequence(1, size(w) - 2), i -> concat_ws(' ', "
        "element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))) AS s "
        "FROM ws WHERE size(w) >= 3)), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "scored AS (SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b, "
        "round(CAST(n_inter AS DOUBLE) / least(sa.n_sh, sb.n_sh), 4) AS containment "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b) "
        "SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS id_sub, "
        "CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS id_super, n_inter, containment "
        "FROM scored WHERE containment >= 0.9"
    )


def q_graph_shortest_hops():
    rounds = "".join(
        f", md{r} AS (SELECT e.dst AS node, min(p.dist + 1) AS reach "
        f"FROM edges e JOIN d{r - 1} p ON e.src = p.node GROUP BY 1), "
        f"d{r} AS (SELECT d.node, least(d.dist, coalesce(md{r}.reach, 99)) AS dist "
        f"FROM d{r - 1} d LEFT JOIN md{r} ON d.node = md{r}.node)"
        for r in (1, 2, 3)
    )
    return spark.sql(
        "WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem), "
        "pairs AS (SELECT a.p AS s1, b.p AS s2 FROM os a JOIN os b "
        "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), "
        "edges AS (SELECT s1 AS src, s2 AS dst FROM pairs UNION ALL SELECT s2, s1 FROM pairs), "
        "nodes AS (SELECT DISTINCT dst AS node FROM edges), "
        "seeds AS (SELECT p_partkey AS node FROM part WHERE p_size = 1), "
        "d0 AS (SELECT n.node, CASE WHEN s.node IS NULL THEN 99 ELSE 0 END AS dist "
        "FROM nodes n LEFT JOIN seeds s ON n.node = s.node)" + rounds + " "
        "SELECT CAST(dist AS BIGINT) AS hops, count(*) AS n_parts, "
        "min(node) AS min_part, max(node) AS max_part FROM d3 GROUP BY 1"
    )


def q_graph_jaccard_neighbors():
    return spark.sql(
        "WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem), "
        "deg AS (SELECT sk, count(*) AS d FROM sp GROUP BY 1), "
        "ok AS (SELECT p FROM sp GROUP BY 1 HAVING count(*) >= 2 AND count(*) <= 10000), "
        "spb AS (SELECT sp.p, sp.sk FROM sp JOIN ok ON sp.p = ok.p), "
        "it AS (SELECT a.sk AS s1, b.sk AS s2, count(*) AS inter FROM spb a JOIN spb b "
        "ON a.p = b.p AND a.sk < b.sk GROUP BY 1, 2) "
        "SELECT s1, s2, inter, inter * 1000000 div (da.d + db.d - inter) AS jac_ppm "
        "FROM it JOIN deg da ON da.sk = it.s1 JOIN deg db ON db.sk = it.s2 "
        "ORDER BY jac_ppm DESC, s1, s2 LIMIT 50"
    )


def q_graph_adamic_adar():
    return spark.sql(
        "WITH sp AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem), "
        "pc AS (SELECT p, count(*) AS df FROM sp GROUP BY 1 "
        "HAVING count(*) >= 2 AND count(*) <= 10000), "
        "pw AS (SELECT p, CAST(round(1000000.0 / ln(CAST(df AS DOUBLE)), 0) AS BIGINT) "
        "AS w_ppm FROM pc) "
        "SELECT a.sk AS s1, b.sk AS s2, count(*) AS n_common, sum(w_ppm) AS aa_ppm "
        "FROM sp a JOIN sp b ON a.p = b.p AND a.sk < b.sk JOIN pw ON pw.p = a.p "
        "GROUP BY 1, 2 ORDER BY aa_ppm DESC, s1, s2 LIMIT 50"
    )


def q_graph_triangle_count():
    return spark.sql(
        "WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem), "
        "pairs AS (SELECT a.p AS s1, b.p AS s2 FROM os a JOIN os b "
        "ON a.ok = b.ok AND a.p < b.p GROUP BY 1, 2 HAVING count(*) >= 2), "
        "deg AS (SELECT node, count(*) AS deg FROM "
        "(SELECT s1 AS node FROM pairs UNION ALL SELECT s2 FROM pairs) GROUP BY 1), "
        "ed AS (SELECT CASE WHEN (d1.deg < d2.deg OR (d1.deg = d2.deg AND s1 < s2)) "
        "THEN s1 ELSE s2 END AS src, "
        "CASE WHEN (d1.deg < d2.deg OR (d1.deg = d2.deg AND s1 < s2)) THEN s2 ELSE s1 END AS dst "
        "FROM pairs JOIN deg d1 ON d1.node = s1 JOIN deg d2 ON d2.node = s2), "
        "edd AS (SELECT src, dst, deg AS dd FROM ed JOIN deg ON node = dst), "
        "w AS (SELECT a.dst AS x, b.dst AS y, a.src AS z FROM edd a JOIN edd b "
        "ON a.src = b.src AND (a.dd < b.dd OR (a.dd = b.dd AND a.dst < b.dst))), "
        "tri AS (SELECT x, y, z FROM w JOIN edd e ON e.src = w.x AND e.dst = w.y), "
        "tn AS (SELECT node, count(*) AS n_tri FROM (SELECT x AS node FROM tri "
        "UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY 1) "
        "SELECT deg.node AS partkey, deg.deg, coalesce(tn.n_tri, CAST(0 AS BIGINT)) AS n_tri, "
        "round(CASE WHEN deg.deg >= 2 THEN CAST(2 * coalesce(tn.n_tri, 0) AS DOUBLE) "
        "/ (deg.deg * (deg.deg - 1)) ELSE 0.0 END, 4) AS clustering "
        "FROM deg LEFT JOIN tn ON tn.node = deg.node"
    )


def q_graph_label_propagation():
    rounds = "".join(
        f", nl{r} AS (SELECT e.src AS node, l.lbl, count(*) AS c FROM edges e "
        f"JOIN l{r - 1} l ON l.node = e.dst GROUP BY 1, 2), "
        f"l{r} AS (SELECT node, lbl FROM (SELECT node, lbl, row_number() OVER "
        f"(PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM nl{r}) WHERE rn = 1)"
        for r in (1, 2, 3)
    )
    return spark.sql(
        "WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey + 1000000000000 AS sp "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey), "
        "edges AS (SELECT c AS src, sp AS dst FROM e0 UNION ALL SELECT sp, c FROM e0), "
        "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)" + rounds + ", "
        "sz AS (SELECT lbl, count(*) AS community_n FROM l3 GROUP BY 1) "
        "SELECT l3.node, l3.lbl AS label, sz.community_n FROM l3 JOIN sz ON l3.lbl = sz.lbl"
    )


def q_recs_item_neighbors():
    return spark.sql(
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "supp AS (SELECT l_partkey, count(*) AS n_i FROM items GROUP BY 1), "
        "okord AS (SELECT l_orderkey FROM items GROUP BY 1 "
        "HAVING count(*) >= 2 AND count(*) <= 10000), "
        "bi AS (SELECT items.l_orderkey, items.l_partkey FROM items JOIN okord USING (l_orderkey)), "
        "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab FROM bi a "
        "JOIN bi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 3), "
        "sym AS (SELECT pa AS item, pb AS nbr, n_ab FROM pairs "
        "UNION ALL SELECT pb, pa, n_ab FROM pairs), "
        "sc AS (SELECT item, nbr, n_ab, round(CAST(n_ab AS DOUBLE) / "
        "(sqrt(CAST(sa.n_i AS DOUBLE)) * sqrt(CAST(sb.n_i AS DOUBLE))), 6) AS cosine, "
        "n_ab * 1000000 div (sa.n_i + sb.n_i - n_ab) AS jaccard_ppm "
        "FROM sym JOIN supp sa ON item = sa.l_partkey JOIN supp sb ON nbr = sb.l_partkey), "
        "rk AS (SELECT *, row_number() OVER (PARTITION BY item ORDER BY cosine DESC, nbr) AS rk "
        "FROM sc) SELECT item, nbr, n_ab, cosine, jaccard_ppm, rk FROM rk WHERE rk <= 5"
    )


def q_sample_balanced_class():
    return spark.sql(
        "WITH li AS (SELECT l_returnflag, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, "
        "CAST(conv(substr(md5(concat('bal#', CAST(l_orderkey * 8 + l_linenumber AS STRING))), "
        "1, 13), 16, 10) AS BIGINT) AS prio FROM lineitem), "
        "k AS (SELECT min(nc) AS k FROM "
        "(SELECT count(*) AS nc FROM li GROUP BY l_returnflag)), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag "
        "ORDER BY prio, l_orderkey, l_linenumber) AS rn FROM li) "
        "SELECT l_returnflag, l_orderkey, l_linenumber FROM r WHERE rn <= (SELECT k FROM k)"
    )


def q_mine_hard_negatives():
    return spark.sql(
        f"WITH {kmeans_cells_cte(probes=2)}, "
        "cand AS (SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS neg_id "
        "FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id <> b.vec_id), "
        f"{EV}, "
        f"sc AS (SELECT anchor_id, neg_id, round({dot('ea.v', 'eb.v')}, 4) AS sim "
        "FROM cand JOIN ev ea ON ea.vec_id = cand.anchor_id "
        "JOIN ev eb ON eb.vec_id = cand.neg_id), "
        "bd AS (SELECT * FROM sc WHERE sim >= 0.15 AND sim < 0.4), "
        "rk AS (SELECT anchor_id, neg_id, sim, row_number() OVER "
        "(PARTITION BY anchor_id ORDER BY sim DESC, neg_id) AS rn FROM bd) "
        "SELECT anchor_id, neg_id, sim, rn FROM rk WHERE rn <= 4"
    )


def _semantic_edges(lsh: bool, probes: int):
    lsh_ctes = (
        "nbits AS (SELECT coalesce(min(b.id), 24) AS bits FROM range(4, 25) b "
        "WHERE (SELECT count(*) FROM embeddings) <= 128 * CAST(shiftleft(1, CAST(b.id AS INT)) AS BIGINT)), "
        "comps AS (SELECT t.id AS tb, j.id AS bit, d.id AS dim, "
        "CASE WHEN CAST(conv(substr(md5(concat('lshp#', CAST(t.id AS STRING), '#', "
        "CAST(j.id AS STRING), '#', CAST(d.id AS STRING))), 1, 1), 16, 10) AS INT) % 2 = 0 "
        "THEN 1.0 ELSE -1.0 END AS w FROM range(8) t, range(24) j, range(64) d "
        "WHERE j.id < (SELECT bits FROM nbits)), "
        "planes AS (SELECT tb, bit, transform(array_sort(collect_list(struct(dim, w))), "
        "s -> s.w) AS plane FROM comps GROUP BY 1, 2), "
        f"dots AS (SELECT vec_id, tb, bit, {dot('v', 'plane')} AS dt FROM ev CROSS JOIN planes), "
        "b AS (SELECT vec_id, tb, sum(CASE WHEN dt >= 0 THEN shiftleft(CAST(1 AS BIGINT), "
        "CAST(bit AS INT)) ELSE CAST(0 AS BIGINT) END) AS bucket FROM dots GROUP BY 1, 2), "
        "okb AS (SELECT tb, bucket FROM b GROUP BY 1, 2 HAVING count(*) <= 512), "
    )
    lsh_cand = (
        "SELECT pa.vec_id AS id_a, pb.vec_id AS id_b FROM b pa JOIN b pb "
        "ON pa.tb = pb.tb AND pa.bucket = pb.bucket AND pa.vec_id < pb.vec_id "
        "JOIN okb ON okb.tb = pa.tb AND okb.bucket = pa.bucket UNION ALL "
    )
    return spark.sql(
        f"WITH {EV}, "
        + (lsh_ctes if lsh else "")
        + kmeans_cells_cte(probes=probes)
        + ", cand AS ("
        + (lsh_cand if lsh else "")
        + "SELECT ca.vec_id AS id_a, cb.vec_id AS id_b FROM cells ca JOIN cells cb "
        "ON ca.cid = cb.cid AND ca.vec_id < cb.vec_id) "
        "SELECT DISTINCT id_a, id_b FROM cand "
        "JOIN ev ea ON ea.vec_id = cand.id_a JOIN ev eb ON eb.vec_id = cand.id_b "
        f"WHERE {dot('ea.v', 'eb.v')} >= 0.4"
    )


def q_dedup_semantic():
    nodes = spark.sql("SELECT vec_id FROM embeddings")
    return min_label_components(_semantic_edges(lsh=True, probes=1), nodes)


def q_dedup_semantic_ivf():
    nodes = spark.sql("SELECT vec_id FROM embeddings")
    return min_label_components(_semantic_edges(lsh=False, probes=2), nodes)


def q_retrieval_mmr():
    """Unrolled 5-round greedy MMR, the stock formulation: persist the
    shared cands/pairSims frames once, checkpoint sel per round (what the
    engine does too — without it the plan re-derives geometrically)."""
    ev = spark.sql(
        "SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"
    )
    probes = ev.filter("vec_id < 100").selectExpr("vec_id AS probe_id", "v AS pv")
    corpus = ev.selectExpr("vec_id AS cand_id", "v AS cv")
    sim6 = (
        "CAST(round(aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) * 1e6, 0) AS BIGINT)"
    )
    from pyspark.sql.window import Window

    w_top = Window.partitionBy("probe_id").orderBy(F.desc("sim6"), F.asc("cand_id"))
    cands = (
        probes.crossJoin(corpus)
        .filter("probe_id <> cand_id")
        .withColumn("sim6", F.expr(sim6.format(a="pv", b="cv")))
        .withColumn("rn", F.row_number().over(w_top))
        .filter("rn <= 20")
        .select("probe_id", "cand_id", "sim6")
        .localCheckpoint(eager=False)
    )
    cv = cands.join(corpus, "cand_id").select("probe_id", "cand_id", "sim6", "cv")
    pair_sims = (
        cv.select("probe_id", "cand_id", "cv")
        .join(cv.selectExpr("probe_id", "cand_id AS other_id", "cv AS ov"), "probe_id")
        .filter("cand_id <> other_id")
        .withColumn("psim6", F.expr(sim6.format(a="cv", b="ov")))
        .select("probe_id", "cand_id", "other_id", "psim6")
        .localCheckpoint(eager=False)
    )
    w_pick = Window.partitionBy("probe_id").orderBy(F.desc("score10"), F.asc("cand_id"))
    sel = (
        cands.withColumn("score10", F.expr("sim6 * 7"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter("rn = 1")
        .selectExpr("probe_id", "cand_id", "CAST(1 AS BIGINT) AS mmr_rank", "score10")
    )
    for r in range(2, 6):
        selected = sel.select("probe_id", "cand_id")
        mx = (
            cands.join(selected, ["probe_id", "cand_id"], "left_anti")
            .join(pair_sims, ["probe_id", "cand_id"])
            .join(selected.selectExpr("probe_id", "cand_id AS other_id"), ["probe_id", "other_id"])
            .groupBy("probe_id", "cand_id", "sim6")
            .agg(F.max("psim6").alias("mx"))
        )
        pick = (
            mx.withColumn("score10", F.expr("sim6 * 7 - mx * 3"))
            .withColumn("rn", F.row_number().over(w_pick))
            .filter("rn = 1")
            .selectExpr("probe_id", "cand_id", f"CAST({r} AS BIGINT) AS mmr_rank", "score10")
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.selectExpr("probe_id", "mmr_rank", "cand_id", "score10 / 1e7 AS score")


PQ_D2 = (
    "CAST(aggregate(zip_with(e.x6a, c.c6a, (x, y) -> (x - y) * (x - y)), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"
)


def _pq_train_cte(src_sub, src_g, pfx):
    """8-subspace x 16-code PQ training chain over {src_sub}(vec_id, sub,
    x6a) and {src_g}(vec_id, sub, ld, x6): 2 Lloyd steps, final codes."""

    def step(cin, out):
        return (
            f"{pfx}ca_{cin} AS (SELECT sub, code, transform(array_sort(collect_list("
            f"struct(ld, c6))), s -> s.c6) AS c6a FROM {pfx}{cin} GROUP BY 1, 2), "
            f"{pfx}d_{out} AS (SELECT e.vec_id, e.sub, c.code, {PQ_D2} AS dist2 "
            f"FROM {src_sub} e JOIN {pfx}ca_{cin} c ON c.sub = e.sub), "
            f"{pfx}a_{out} AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, "
            f"row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist2, code) AS rn "
            f"FROM {pfx}d_{out}) WHERE rn = 1), "
            f"{pfx}u_{out} AS (SELECT a.sub, a.code, g2.ld, sum(g2.x6) div count(*) AS c6n "
            f"FROM {pfx}a_{out} a JOIN {src_g} g2 ON g2.vec_id = a.vec_id AND g2.sub = a.sub "
            f"GROUP BY 1, 2, 3), "
            f"{pfx}{out} AS (SELECT c.sub, c.code, c.ld, coalesce(u.c6n, c.c6) AS c6 "
            f"FROM {pfx}{cin} c LEFT JOIN {pfx}u_{out} u ON u.sub = c.sub "
            f"AND u.code = c.code AND u.ld = c.ld)"
        )

    return (
        f"{pfx}seed AS (SELECT vec_id, CAST(rn AS BIGINT) - 1 AS code FROM "
        "(SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings) "
        "WHERE rn <= 16), "
        f"{pfx}c0 AS (SELECT g.sub, s.code, g.ld, g.x6 AS c6 FROM {pfx}seed s "
        f"JOIN {src_g} g ON g.vec_id = s.vec_id), "
        + step("c0", "c1")
        + ", "
        + step("c1", "c2")
        + ", "
        f"{pfx}ca AS (SELECT sub, code, transform(array_sort(collect_list(struct(ld, c6))), "
        f"s -> s.c6) AS c6a FROM {pfx}c2 GROUP BY 1, 2), "
        f"{pfx}d_fin AS (SELECT e.vec_id, e.sub, c.code, {PQ_D2} AS dist2 "
        f"FROM {src_sub} e JOIN {pfx}ca c ON c.sub = e.sub), "
        f"{pfx}codes AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code, "
        f"row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist2, code) AS rn "
        f"FROM {pfx}d_fin) WHERE rn = 1)"
    )


PQ_SRC = (
    "xf AS (SELECT vec_id, transform(embedding, "
    "x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS xf FROM embeddings), "
    "sub6 AS (SELECT vec_id, CAST(s.id AS BIGINT) AS sub, "
    "slice(xf, CAST(s.id * 8 + 1 AS INT), 8) AS x6a FROM xf CROSS JOIN range(8) s), "
    "gq AS (SELECT vec_id, CAST(pos AS BIGINT) div 8 AS sub, CAST(pos AS BIGINT) % 8 AS ld, x6 "
    "FROM xf LATERAL VIEW posexplode(xf) p AS pos, x6)"
)


def q_sim_ann_pq():
    return spark.sql(
        f"WITH {PQ_SRC}, "
        + _pq_train_cte("sub6", "gq", "")
        + ", pt AS (SELECT vec_id AS probe_id, sub, code, dist2 AS d2 FROM d_fin "
        "WHERE vec_id < 100), "
        "adc AS (SELECT pt.probe_id, a.vec_id AS cand_id, sum(pt.d2) AS adc "
        "FROM codes a JOIN pt ON pt.sub = a.sub AND pt.code = a.code "
        "WHERE pt.probe_id <> a.vec_id GROUP BY 1, 2), "
        "sl AS (SELECT probe_id, cand_id FROM (SELECT probe_id, cand_id, row_number() OVER "
        "(PARTITION BY probe_id ORDER BY adc, cand_id) AS sr FROM adc) WHERE sr <= 100), "
        f"{EV}, "
        f"r AS (SELECT probe_id, cand_id, round({dot('pe.v', 'ce.v')}, 4) AS sim "
        "FROM sl JOIN ev pe ON pe.vec_id = sl.probe_id JOIN ev ce ON ce.vec_id = sl.cand_id), "
        "rk AS (SELECT probe_id, cand_id, sim, row_number() OVER "
        "(PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn FROM r) "
        "SELECT probe_id, cand_id, sim, rn FROM rk WHERE rn <= 10"
    )


def q_sim_ann_ivfpq_build():
    coarse_d2 = "sum((g.x6 - c.c6) * (g.x6 - c.c6))"

    def cstep(cin, out):
        return (
            f"d_{out} AS (SELECT g.vec_id, c.cid, {coarse_d2} AS dist2 FROM g "
            f"JOIN {cin} c ON g.dim = c.dim GROUP BY 1, 2), "
            f"a_{out} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM d_{out}) WHERE rn = 1), "
            f"u_{out} AS (SELECT a.cid, g.dim, sum(g.x6) div count(*) AS c6n FROM a_{out} a "
            f"JOIN g ON g.vec_id = a.vec_id GROUP BY 1, 2), "
            f"{out} AS (SELECT c.cid, c.dim, coalesce(u.c6n, c.c6) AS c6 FROM {cin} c "
            f"LEFT JOIN u_{out} u ON u.cid = c.cid AND u.dim = c.dim)"
        )

    return spark.sql(
        f"WITH {G}, "
        "seed AS (SELECT vec_id, CAST(rn AS BIGINT) - 1 AS cid FROM "
        "(SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings) "
        "WHERE rn <= 16), "
        "c0 AS (SELECT s.cid, g.dim, g.x6 AS c6 FROM seed s JOIN g ON g.vec_id = s.vec_id), "
        + cstep("c0", "c1")
        + ", "
        + cstep("c1", "c2")
        + ", "
        f"dl AS (SELECT g.vec_id, c.cid, {coarse_d2} AS dist2 FROM g JOIN c2 c "
        "ON g.dim = c.dim GROUP BY 1, 2), "
        "lists AS (SELECT vec_id AS cand_id, cid FROM (SELECT vec_id, cid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM dl) WHERE rn = 1), "
        "res AS (SELECT g.vec_id, g.dim, g.x6 - c.c6 AS r6 FROM g "
        "JOIN lists l ON l.cand_id = g.vec_id JOIN c2 c ON c.cid = l.cid AND c.dim = g.dim), "
        "rsub AS (SELECT vec_id, dim div 8 AS sub, "
        "transform(array_sort(collect_list(struct(dim, r6))), s -> s.r6) AS x6a "
        "FROM res GROUP BY 1, 2), "
        "rg AS (SELECT vec_id, dim div 8 AS sub, dim % 8 AS ld, r6 AS x6 FROM res), "
        + _pq_train_cte("rsub", "rg", "p")
        + ", cn AS (SELECT sub, code, count(*) AS code_n FROM pcodes GROUP BY 1, 2) "
        "SELECT c.sub, c.code, c.ld, CAST(c.c6 AS BIGINT) AS c6, "
        "coalesce(cn.code_n, CAST(0 AS BIGINT)) AS code_n FROM pc2 c "
        "LEFT JOIN cn ON cn.sub = c.sub AND cn.code = c.code"
    )


# ------------------------------------------------------- r16 extensions
# The r15 verdict asked for measured stock baselines over the CURRENT
# slow set (the r13 top-15 predates newer keys); these cover every key in
# the r16 top-15 plus the keys the verdict named. Same translation rules
# as above (each re-expresses its oracle_sql.json entry in stock Spark
# SQL / DataFrame code with none of graft's private machinery).


def q_market_basket_lift():
    return spark.sql(
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "tot AS (SELECT count(DISTINCT l_orderkey) AS n_total FROM items), "
        "supp AS (SELECT l_partkey, count(*) AS n_item FROM items GROUP BY 1), "
        "pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab "
        "FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 3) "
        "SELECT part_a, part_b, n_ab, sa.n_item AS n_a, sb.n_item AS n_b, "
        "round(CAST(n_ab * n_total AS DOUBLE) / CAST(sa.n_item * sb.n_item AS DOUBLE), 6) AS lift, "
        "round(CAST(n_ab AS DOUBLE) / CAST(sa.n_item AS DOUBLE), 6) AS confidence "
        "FROM pairs JOIN supp sa ON part_a = sa.l_partkey "
        "JOIN supp sb ON part_b = sb.l_partkey CROSS JOIN tot "
        "ORDER BY n_ab DESC, part_a, part_b"
    )


def q_graph_kcore():
    return spark.sql(
        "WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
        "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM items a JOIN items b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
        "GROUP BY 1, 2 HAVING count(*) >= 2), "
        "e0 AS (SELECT pa AS u, pb AS v FROM pairs UNION ALL SELECT pb, pa FROM pairs), "
        "k1 AS (SELECT u FROM e0 GROUP BY u HAVING count(*) >= 3), "
        "e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT u FROM k1) AND v IN (SELECT u FROM k1)), "
        "k2 AS (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 3), "
        "e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT u FROM k2) AND v IN (SELECT u FROM k2)), "
        "k3 AS (SELECT u FROM e2 GROUP BY u HAVING count(*) >= 3), "
        "e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT u FROM k3) AND v IN (SELECT u FROM k3)) "
        "SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM e3 GROUP BY u ORDER BY node"
    )


def q_feature_rfm():
    return spark.sql(
        "WITH cust AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_day, "
        "CAST(count(*) AS BIGINT) AS freq, "
        "CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents "
        "FROM orders GROUP BY 1), "
        "mx AS (SELECT max(last_day) AS max_day FROM cust), "
        "sc AS (SELECT o_custkey, CAST(datediff(max_day, last_day) AS BIGINT) AS recency_days, "
        "freq, cents FROM cust CROSS JOIN mx), "
        "q AS (SELECT o_custkey, cents, "
        "CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_q, "
        "CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_q, "
        "CAST(ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS m_q FROM sc) "
        "SELECT r_q, f_q, m_q, CAST(count(*) AS BIGINT) AS n_cust, "
        "CAST(sum(cents) AS BIGINT) AS total_cents, "
        "CAST(sum(cents) div count(*) AS BIGINT) AS avg_cents "
        "FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q"
    )


def q_filter_surprisal_band():
    return spark.sql(
        f"WITH toks AS (SELECT doc_id, term FROM (SELECT doc_id, split({NORM}, ' ') AS w "
        "FROM documents) LATERAL VIEW explode(w) t AS term), "
        "freq AS (SELECT term, count(*) AS c FROM toks GROUP BY 1), "
        "total AS (SELECT sum(c) AS t FROM freq), "
        "scored AS (SELECT term, CAST(round(-ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 6) "
        "AS DECIMAL(18,6)) AS s6 FROM freq CROSS JOIN total), "
        "d AS (SELECT doc_id, CAST(sum(s6) * 1000000 AS BIGINT) AS su, count(*) AS n "
        "FROM toks JOIN scored USING (term) GROUP BY doc_id), "
        "d4 AS (SELECT doc_id, (su * 2 + n * 100) div (n * 200) AS s4, "
        "CAST((su * 2 + n * 100) div (n * 200) AS DOUBLE) / 10000 AS avg_surprisal FROM d), "
        "hist AS (SELECT s4, count(*) AS c FROM d4 GROUP BY 1), "
        "cum AS (SELECT s4, sum(c) OVER (ORDER BY s4) AS cum FROM hist), "
        "nn AS (SELECT count(*) AS n FROM d4), "
        "th AS (SELECT min(CASE WHEN cum >= (n + 9) div 10 THEN s4 END) AS lo, "
        "min(CASE WHEN cum >= (9 * n + 9) div 10 THEN s4 END) AS hi FROM cum CROSS JOIN nn) "
        "SELECT doc_id, avg_surprisal, (s4 >= lo AND s4 <= hi) AS keep "
        "FROM d4 CROSS JOIN th ORDER BY doc_id"
    )


def q_dedup_simhash():
    return spark.sql(
        f"WITH toks AS (SELECT doc_id, tok FROM (SELECT doc_id, split({NORM}, ' ') AS w "
        "FROM documents) LATERAL VIEW explode(w) t AS tok), "
        "h AS (SELECT doc_id, CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT) AS h FROM toks), "
        "bits AS (SELECT doc_id, i, CASE WHEN sum(2 * (shiftright(h, CAST(i AS INT)) & 1) - 1) >= 0 "
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS b "
        "FROM h CROSS JOIN (SELECT id AS i FROM range(0, 60)) g GROUP BY doc_id, i), "
        "fp AS (SELECT doc_id, CAST(sum(shiftleft(b, CAST(i AS INT))) AS BIGINT) AS fp "
        "FROM bits GROUP BY doc_id), "
        "bands AS (SELECT doc_id, fp, band, shiftright(fp, CAST(band * 15 AS INT)) & 32767 AS bkey "
        "FROM fp CROSS JOIN (SELECT id AS band FROM range(0, 4)) t), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.fp AS fa, b.fp AS fb "
        "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, CAST(bit_count(fa ^ fb) AS BIGINT) AS hamming "
        "FROM cand WHERE bit_count(fa ^ fb) <= 3 ORDER BY id_a, id_b"
    )


def q_sample_importance_dsir():
    return spark.sql(
        f"WITH tk AS (SELECT doc_id, lang, w FROM (SELECT doc_id, lang, split({NORM}, ' ') AS ws "
        "FROM documents) LATERAL VIEW explode(ws) t AS w), "
        "tk1 AS (SELECT * FROM tk WHERE length(w) >= 1), "
        "cc AS (SELECT w, CAST(count(*) AS BIGINT) AS cc FROM tk1 GROUP BY 1), "
        "ct AS (SELECT w, CAST(count(*) AS BIGINT) AS ct FROM tk1 WHERE lang = 'en' GROUP BY 1), "
        "model AS (SELECT cc.w, coalesce(ct.ct, 0) AS ct, cc.cc FROM cc LEFT JOIN ct USING (w)), "
        "tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cc) AS BIGINT) AS nc, "
        "CAST(count(*) AS BIGINT) AS v FROM model), "
        "term AS (SELECT w, CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)) "
        "- ln(CAST(cc + 1 AS DOUBLE) / CAST(nc + v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS t6 "
        "FROM model CROSS JOIN tot), "
        "lam AS (SELECT doc_id, sum(t6) AS lam6 FROM tk1 JOIN term USING (w) GROUP BY 1), "
        "sc AS (SELECT d.doc_id, d.lang, CAST(coalesce(lam.lam6, 0) AS DECIMAL(28,6)) AS lam6, "
        "CAST(round(-ln(-ln((CAST(conv(substr(md5(concat('dsir#', CAST(doc_id AS STRING))), "
        "1, 13), 16, 10) AS BIGINT) + 0.5) / 4503599627370496.0)), 6) AS DECIMAL(18,6)) AS g6 "
        "FROM documents d LEFT JOIN lam USING (doc_id)), "
        "rk AS (SELECT doc_id, lang, lam6, g6, lam6 + g6 AS score6, "
        "row_number() OVER (ORDER BY lam6 + g6 DESC, doc_id) AS rn, count(*) OVER () AS n FROM sc) "
        "SELECT doc_id, lang, CAST(lam6 AS DOUBLE) AS lam, CAST(g6 AS DOUBLE) AS gumbel, "
        "CAST(score6 AS DOUBLE) AS score, rn * 4 <= n AS keep FROM rk ORDER BY doc_id"
    )


def q_embed_pq_codes():
    return spark.sql(
        f"WITH {PQ_SRC}, "
        + _pq_train_cte("sub6", "gq", "")
        + " SELECT vec_id, sub, code FROM codes ORDER BY vec_id, sub"
    )


def _jaccard_cluster_labels():
    """Shared by dedup_clusters / dedup_keep_best: exact >= 0.8 jaccard
    pairs, then min-label connected components over all documents."""
    pairs = spark.sql(
        f"WITH {SHINGLE_CTE}, "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT id_a, id_b FROM inter "
        "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.8"
    )
    nodes = spark.sql("SELECT doc_id AS vec_id FROM documents")
    return min_label_components(pairs, nodes).selectExpr(
        "vec_id AS doc_id", "cluster_id"
    )


def q_dedup_clusters():
    return _jaccard_cluster_labels().orderBy("doc_id")


def q_dedup_keep_best():
    _jaccard_cluster_labels().createOrReplaceTempView("kb_lab")
    return spark.sql(
        "WITH qd AS (SELECT doc_id, text, split(text, ' ') AS w FROM documents), "
        "qb AS (SELECT doc_id, CAST(size(w) AS BIGINT) AS n_tokens, "
        "round(CAST(length(regexp_replace(text, '[^a-z]', '')) AS DOUBLE) / length(text), 4) "
        "AS alpha_ratio, "
        "round(CAST(size(filter(w, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) / size(w), 4) "
        "AS stop_ratio FROM qd), "
        "qq AS (SELECT doc_id, CAST(5 * CAST(round(alpha_ratio * 10000, 0) AS BIGINT) "
        "+ 3 * (10000 - CAST(round(stop_ratio * 10000, 0) AS BIGINT)) "
        "+ 2 * least(10000, n_tokens * 200) AS DOUBLE) / 100000.0 AS quality FROM qb), "
        "t AS (SELECT lab.cluster_id, lab.doc_id, qq.quality, row_number() OVER "
        "(PARTITION BY lab.cluster_id ORDER BY qq.quality DESC, lab.doc_id) AS rn "
        "FROM kb_lab lab JOIN qq ON lab.doc_id = qq.doc_id) "
        "SELECT cluster_id, count(*) AS n_members, "
        "min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id, max(quality) AS best_quality "
        "FROM t GROUP BY cluster_id ORDER BY cluster_id"
    )


def lloyd_cells(view, pre, probes):
    """Integer-grid Lloyd chain (2 steps, K = max(4, n div 250)) over a view
    (vec_id, embedding); CTE names prefixed so two chains can share one
    query. Exposes {pre}cells (vec_id, cid; rn <= probes) and {pre}ca_c2
    (trained centroid arrays, for routing foreign vectors)."""
    e6x = (
        f"{pre}e6 AS (SELECT vec_id, transform(embedding, "
        f"x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS x6a FROM {view})"
    )
    gx = (
        f"{pre}g AS (SELECT vec_id, CAST(pos AS BIGINT) AS dim, x6 FROM {view} "
        "LATERAL VIEW posexplode(transform(embedding, "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))) p AS pos, x6)"
    )
    d2 = L2.format(a="e.x6a", b="c.c6a")

    def step(cin, out):
        return (
            f"{pre}ca_{cin} AS (SELECT cid, transform(array_sort(collect_list(struct(dim, c6))), "
            f"s -> s.c6) AS c6a FROM {pre}{cin} GROUP BY cid), "
            f"{pre}d_{out} AS (SELECT e.vec_id, c.cid, {d2} AS dist2 "
            f"FROM {pre}e6 e CROSS JOIN {pre}ca_{cin} c), "
            f"{pre}a_{out} AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER "
            f"(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM {pre}d_{out}) WHERE rn = 1), "
            f"{pre}u_{out} AS (SELECT a.cid, g.dim, sum(g.x6) div count(*) AS c6n "
            f"FROM {pre}a_{out} a JOIN {pre}g g ON g.vec_id = a.vec_id GROUP BY 1, 2), "
            f"{pre}{out} AS (SELECT c.cid, c.dim, coalesce(u.c6n, c.c6) AS c6 "
            f"FROM {pre}{cin} c LEFT JOIN {pre}u_{out} u ON u.cid = c.cid AND u.dim = c.dim)"
        )

    return (
        f"{e6x}, {gx}, "
        f"{pre}nk AS (SELECT greatest(CAST(4 AS BIGINT), count(*) div 250) AS k FROM {view}), "
        f"{pre}seed AS (SELECT vec_id, CAST(rn AS BIGINT) - 1 AS cid FROM "
        f"(SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM {view}) "
        f"WHERE rn <= (SELECT k FROM {pre}nk)), "
        f"{pre}c0 AS (SELECT s.cid, g.dim, g.x6 AS c6 FROM {pre}seed s "
        f"JOIN {pre}g g ON g.vec_id = s.vec_id), "
        + step("c0", "c1")
        + ", "
        + step("c1", "c2")
        + ", "
        f"{pre}ca_c2 AS (SELECT cid, transform(array_sort(collect_list(struct(dim, c6))), "
        f"s -> s.c6) AS c6a FROM {pre}c2 GROUP BY cid), "
        f"{pre}d_fin AS (SELECT e.vec_id, c.cid, {d2} AS dist2 "
        f"FROM {pre}e6 e CROSS JOIN {pre}ca_c2 c), "
        f"{pre}cells AS (SELECT vec_id, cid FROM (SELECT vec_id, cid, row_number() OVER "
        f"(PARTITION BY vec_id ORDER BY dist2, cid) AS rn FROM {pre}d_fin) WHERE rn <= {probes})"
    )


def q_dedup_incremental_semantic():
    spark.sql(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250"
    ).createOrReplaceTempView("seen_emb")
    spark.sql(
        "SELECT batch_id AS vec_id, embedding FROM ("
        "SELECT vec_id AS batch_id, embedding FROM embeddings WHERE vec_id >= 250 "
        "UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings WHERE vec_id < 50 "
        "UNION ALL SELECT vec_id + 20000000, embedding FROM embeddings "
        "WHERE vec_id >= 250 AND vec_id < 260)"
    ).createOrReplaceTempView("batch_emb")
    return spark.sql(
        f"WITH {lloyd_cells('seen_emb', 's_', 1)}, "
        f"{lloyd_cells('batch_emb', 'b_', 2)}, "
        "bx AS (SELECT vec_id AS batch_id, transform(embedding, "
        "x -> CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS x6a, "
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM batch_emb), "
        f"brt0 AS (SELECT b.batch_id, c.cid, {L2.format(a='b.x6a', b='c.c6a')} AS dist2 "
        "FROM bx b CROSS JOIN s_ca_c2 c), "
        "brt AS (SELECT batch_id, cid FROM (SELECT batch_id, cid, row_number() OVER "
        "(PARTITION BY batch_id ORDER BY dist2, cid) AS rn FROM brt0) WHERE rn <= 2), "
        "sv AS (SELECT c.vec_id AS seen_id, c.cid, transform(em.embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM s_cells c JOIN embeddings em ON em.vec_id = c.vec_id), "
        f"ds AS (SELECT DISTINCT br.batch_id FROM brt br JOIN sv ON sv.cid = br.cid "
        f"JOIN bx ON bx.batch_id = br.batch_id WHERE {dot('bx.v', 'sv.v')} >= 0.4), "
        f"wb AS (SELECT DISTINCT a.vec_id AS batch_id FROM b_cells a "
        "JOIN b_cells b ON a.cid = b.cid AND b.vec_id < a.vec_id "
        "JOIN bx ba ON ba.batch_id = a.vec_id JOIN bx bb ON bb.batch_id = b.vec_id "
        f"WHERE {dot('ba.v', 'bb.v')} >= 0.4) "
        "SELECT be.vec_id AS batch_id, CASE WHEN ds.batch_id IS NOT NULL THEN 'dup_of_seen' "
        "WHEN wb.batch_id IS NOT NULL THEN 'dup_in_batch' ELSE 'unique' END AS status "
        "FROM batch_emb be LEFT JOIN ds ON ds.batch_id = be.vec_id "
        "LEFT JOIN wb ON wb.batch_id = be.vec_id ORDER BY batch_id"
    )


# ------------------------------------------------------- the 5 anchors
# BASELINE.md's anchor keys, each its oracle_sql.json entry in stock Spark
# SQL. stream_session_5m uses Spark's own session_window (the oracle spells
# the same 5-minute gap rule as DuckDB gaps-and-islands); events.ts reads
# as INT64 nanoseconds under nanosAsLong where the tables store it so.


def q_agg_groupby_pricing():
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price, "
        "CAST(ROUND(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))), 2) "
        "AS DOUBLE) AS sum_disc_price, "
        "CAST(ROUND(SUM(CAST(l_extendedprice * ((1.0 - l_discount) * (1.0 + l_tax)) "
        "AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_charge, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_price, "
        "CAST(SUM(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / COUNT(*) AS avg_disc, "
        "COUNT(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    )


def q_join_multiway_star():
    return spark.sql(
        "SELECT r_name, n_name, "
        "CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue, "
        "COUNT(*) AS n_rows "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name, n_name ORDER BY r_name, n_name"
    )


def q_win_topk_per_group():
    return spark.sql(
        "SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, "
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"
    )


def q_stream_session_5m():
    ns = dict(spark.table("events").dtypes)["ts"] == "bigint"
    etime = "timestamp_micros(ts div 1000)" if ns else "CAST(ts AS TIMESTAMP)"
    return spark.sql(
        "SELECT user_id, session_window.start AS sess_start, session_window.end AS sess_end, "
        "count(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value "
        f"FROM (SELECT user_id, value, {etime} AS etime FROM events) "
        "GROUP BY user_id, session_window(etime, '5 minutes') ORDER BY user_id, sess_start"
    )


def q_sim_topk_cosine():
    return spark.sql(
        "WITH p AS (SELECT vec_id AS probe_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS pv "
        "FROM embeddings WHERE vec_id < 100), "
        "c AS (SELECT vec_id AS cand_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS cv "
        "FROM embeddings), "
        f"scored AS (SELECT probe_id, cand_id, round({dot('pv', 'cv')}, 4) AS sim "
        "FROM p CROSS JOIN c WHERE probe_id <> cand_id) "
        "SELECT probe_id, cand_id, sim, rn FROM (SELECT probe_id, cand_id, sim, "
        "row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn "
        "FROM scored) WHERE rn <= 10 ORDER BY probe_id, rn"
    )


QUERIES = {
    "agg_groupby_pricing": q_agg_groupby_pricing,
    "join_multiway_star": q_join_multiway_star,
    "win_topk_per_group": q_win_topk_per_group,
    "stream_session_5m": q_stream_session_5m,
    "sim_topk_cosine": q_sim_topk_cosine,
    # r13 top-15
    "retrieval_mmr": q_retrieval_mmr,
    "dedup_semantic": q_dedup_semantic,
    "graph_label_propagation": q_graph_label_propagation,
    "graph_shortest_hops": q_graph_shortest_hops,
    "dedup_semantic_ivf": q_dedup_semantic_ivf,
    "mine_hard_negatives": q_mine_hard_negatives,
    "graph_jaccard_neighbors": q_graph_jaccard_neighbors,
    "graph_adamic_adar": q_graph_adamic_adar,
    "recs_item_neighbors": q_recs_item_neighbors,
    "sample_balanced_class": q_sample_balanced_class,
    "sim_ann_ivfpq_build": q_sim_ann_ivfpq_build,
    "dedup_containment": q_dedup_containment,
    "dedup_near_jaccard": q_dedup_near_jaccard,
    "sim_ann_pq": q_sim_ann_pq,
    "graph_triangle_count": q_graph_triangle_count,
    # r16 extensions (current slow set)
    "market_basket_lift": q_market_basket_lift,
    "graph_kcore": q_graph_kcore,
    "feature_rfm": q_feature_rfm,
    "filter_surprisal_band": q_filter_surprisal_band,
    "dedup_simhash": q_dedup_simhash,
    "sample_importance_dsir": q_sample_importance_dsir,
    "embed_pq_codes": q_embed_pq_codes,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep_best": q_dedup_keep_best,
    "dedup_incremental_semantic": q_dedup_incremental_semantic,
}
if ONLY:
    QUERIES = {k: v for k, v in QUERIES.items() if k in ONLY}


def main():
    times = {k: [] for k in QUERIES}
    counts = {}
    for p in range(4):  # pass 0 = untimed warm-up, then 3 interleaved passes
        for k, fn in QUERIES.items():
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if p > 0:
                times[k].append(round(dt, 3))
            print(f"[pass {p}] {k}: {dt:.3f}s", file=sys.stderr)
    for k, fn in QUERIES.items():
        counts[k] = fn().count()
    med = {k: round(statistics.median(v), 3) for k, v in times.items()}
    print(
        json.dumps(
            {
                "metric": "baseline15",
                "sf": SF,
                "config": f"pyspark local[{CPUS}] shuffle={CPUS}, median of 3 interleaved warm "
                "passes into the noop sink",
                "total": round(sum(med.values()), 3),
                "queries": med,
                "passes": times,
                "counts": counts,
            }
        )
    )


if __name__ == "__main__":
    main()
