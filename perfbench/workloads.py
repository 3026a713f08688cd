"""The workloads: which gates each pass runs, and the seeded Cypher ops
of `graph` with their expected answers from DuckDB."""
import hashlib
import random

import duckdb

# Fixed subsets of the gate families: each keeps gates the ROADMAP names
# as known slow or targeted. Gates only read; the seeded Cypher writes
# are the workload's writes.
GATES = {
    # graph kernels and Cypher over the TPC-H graph projection
    "graph": [
        "gx01_connected_components", "gx03_triangle_count", "gx05_kcore",
        "gx09_label_propagation", "gx14_triangle_support",
        "gx18_top_link_prediction", "st03_stream_graph_upsert",
    ],
    # per-row text work, dedup, a relational cube, and a streaming dedup
    "pipeline": [
        "t01_token_count", "t09_repetition", "d02_shingle_count",
        "p04_decontamination", "p17_corpus_datasheet", "q35_cube",
        "st04_stream_dedup",
    ],
}

WORKLOADS = list(GATES)

# Seeded Cypher ops per workload. `pipeline` runs one read and one write
# so that every layer's time is measured on both workloads.
CYPHER = {
    "graph": ["point", "merge", "expand", "set", "path", "delete", "filter"],
    "pipeline": ["point", "set"],
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def digest(rows):
    """Order-insensitive digest of an answer: each value as text (NULL as
    \\N), fields joined by U+001F, rows sorted, SHA-256 of the lines.
    Harness.digest computes the same over Spark's rows."""
    lines = sorted("\x1f".join("\\N" if v is None else str(v) for v in r)
                   for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _params(**kv):
    return ";".join(f"{k}={'i' if isinstance(v, int) else 's'}:{v}"
                    for k, v in kv.items())


def cypher_ops(seed, data_dir):
    """The seeded Cypher ops of one pass, as ops-file lines, in the order
    they run: 4 reads and 3 writes, alternating, so every pass puts the
    same number of writes in front of each read. Parameters are drawn
    from the tables with `seed`. Each read is answered again in SQL over
    the base parquet; each write names the read-back that proves it."""
    rnd = random.Random(seed)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")

    def q(sql, *args):
        return con.execute(sql, list(args)).fetchall()

    custs = [r[0] for r in q("SELECT DISTINCT o_custkey FROM orders "
                             "ORDER BY 1")]
    kinds = q("SELECT DISTINCT p_brand, p_type FROM part ORDER BY 1, 2")
    pairs = q("SELECT DISTINCT o_custkey, l_partkey FROM orders "
              "JOIN lineitem ON l_orderkey = o_orderkey ORDER BY 1, 2")
    point_c, expand_c, set_c = rnd.sample(custs, 3)
    brand, ptype = rnd.choice(kinds)
    path_c, path_p = rnd.choice(pairs)
    key = f"k{seed}"
    score = f"s{rnd.randrange(10**6)}"
    count_back = ("MATCH (x:benchitem) WHERE x.name = $key "
                  "RETURN count(x) AS n")
    return [
        ("read", "point",
         "MATCH (c:customer) WHERE id(c) = $id "
         "RETURN c.name AS name, c.mktsegment AS seg",
         _params(id=f"c:{point_c}"),
         digest(q("SELECT c_name, c_mktsegment FROM customer "
                  "WHERE c_custkey = ?", point_c))),
        ("write", "merge", "MERGE (x:benchitem {name: $key})",
         _params(key=key), count_back, digest([(1,)])),
        ("read", "expand",
         "MATCH (c:customer)-[:PLACED]->(o:order) WHERE id(c) = $id "
         "RETURN id(o) AS oid, o.status AS status",
         _params(id=f"c:{expand_c}"),
         digest(q("SELECT 'o:' || o_orderkey, o_orderstatus FROM orders "
                  "WHERE o_custkey = ?", expand_c))),
        ("write", "set",
         "MATCH (c:customer) WHERE id(c) = $id SET c.bench_score = $v",
         _params(id=f"c:{set_c}", v=score),
         "MATCH (c:customer) WHERE id(c) = $id RETURN c.bench_score AS v",
         digest([(score,)])),
        # customer -PLACED-> order -CONTAINS-> part is the only directed
        # route, so a customer who ordered the part is two hops away
        ("read", "path",
         "MATCH (a:customer), (b:part) WHERE id(a) = $a AND id(b) = $b "
         "MATCH p = shortestPath((a)-[*..4]->(b)) RETURN length(p) AS len",
         _params(a=f"c:{path_c}", b=f"p:{path_p}"),
         digest(q("SELECT 2 FROM orders JOIN lineitem "
                  "ON l_orderkey = o_orderkey "
                  "WHERE o_custkey = ? AND l_partkey = ? LIMIT 1",
                  path_c, path_p))),
        ("write", "delete",
         "MATCH (x:benchitem) WHERE x.name = $key DETACH DELETE x",
         _params(key=key), count_back, digest([(0,)])),
        ("read", "filter",
         "MATCH (p:part) WHERE p.brand = $brand AND p.type = $type "
         "RETURN id(p) AS pid, p.name AS name",
         _params(brand=brand, type=ptype),
         digest(q("SELECT 'p:' || p_partkey, p_name FROM part "
                  "WHERE p_brand = ? AND p_type = ?", brand, ptype))),
    ]


def read_expected(path):
    """name -> (rows, hash) from the expected-answers file."""
    out = {}
    with open(path) as f:
        for line in f:
            if line.startswith("#") or not line.strip():
                continue
            name, rows, h = line.rstrip("\n").split("\t")[:3]
            out[name] = (rows, h)
    return out


def ops_lines(workload, seed, data_dir, expected):
    """All ops of one pass of `workload` as tab-separated lines."""
    lines = []
    for g in GATES[workload]:
        rows, h = expected.get(g, ("-1", "0"))
        lines.append(("gate", g, rows, h))
    lines += [op for op in cypher_ops(seed, data_dir)
              if op[1] in CYPHER[workload]]
    return ["\t".join(l) for l in lines]
