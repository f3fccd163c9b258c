"""The benchmark's workloads: each turns a seed into a fixed op list.

An op is (name, kind, family, arg, oracle). Kinds: `sparql` (SPARQL text
through `GraftEngine.query` over the persisted store), `battery` (a
`queries.Battery` entry), `create`/`load` (`graft.Main create|load` of an
N-Triples file) and `lsparql` (SPARQL text over the store those build).
The oracle is DuckDB SQL over the generated parquet tables, the name of a
Battery entry whose oracle SQL to use, or the expected rows themselves.
"""
import random

import gen_data

# Fixed subsets of the Battery: a pass over a full Battery workload does not
# fit the run budget, so each runs a selection in which every family is
# represented, always in this order. Permuting the order by seed moved
# pass_s by up to 35 % between seeds, against 4 % between repeats of one
# seed, so pipeline_mix's seed generates its tables instead.
# sparql_analytic leaves out q_bgp_star_mem and q_sparql_text: they build
# the in-memory store, about 20 s of every set-up at this scale.
ANALYTIC = [
    "q_fk_join", "q_optional", "q_minus", "q_agg_q1", "q_win_rank", "q_win_sum_frame",
    "q_path_plus", "q_expr_strings", "q_construct", "q_describe", "q_sparql_window",
]
PIPELINE = [
    "dd_simhash", "sim_topk_brute", "ret_bm25_topk", "text_tokens", "curate_chunk",
    "graph_pagerank", "ev_funnel", "mm_features",
]

# Whether a run makes an untimed warm-up pass, and how many timed passes
# follow. The count is fixed: a median over two passes is not comparable with
# one over three, because the first pass is still warming up. load_update's
# set-ups already run `graft.Main create` three times, which warms the write
# path, and its passes cost about 11 s each, so it makes two.
WARMUP_PASS = {"sparql_lookup": True, "sparql_analytic": True, "pipeline_mix": True,
               "load_update": False}
PASSES = {"sparql_lookup": 3, "sparql_analytic": 3, "pipeline_mix": 3, "load_update": 2}

# load_update: each set-up creates the store; each pass loads this many
# batches into a fresh copy of it.
LOAD_CREATE_SUBJECTS = 500
LOAD_BATCH_SUBJECTS = 250
LOAD_BATCHES = 1
LOOKUPS_PER_BATCH = 1

def dec(x):
    """DuckDB: the engine's canonical xsd:decimal lexical form of a money column."""
    return (f"regexp_replace(regexp_replace(printf('%.2f', {x}), '(\\.\\d*?)0+$', '\\1'), "
            f"'\\.$', '')")


def family(name):
    return name.split("_", 1)[0]


def _lookup_ops(rng):
    sz = gen_data.table_sizes(gen_data.SCALE)
    nc, no = sz["customer"], sz["orders"]
    ops = []
    for i in range(2):
        k = rng.randrange(no)
        ops.append((f"star_{i}", "sparql", "star",
                    f"SELECT ?status ?price ?prio WHERE {{ <urn:t:orders:{k}> "
                    f"<urn:p:orders:o_orderstatus> ?status ; <urn:p:orders:o_totalprice> ?price ; "
                    f"<urn:p:orders:o_orderpriority> ?prio }}",
                    f"SELECT o_orderstatus AS status, {dec('o_totalprice')} AS price, "
                    f"o_orderpriority AS prio FROM orders WHERE o_orderkey = {k}"))
        c = rng.randrange(nc)
        ops.append((f"po_{i}", "sparql", "po",
                    f"SELECT ?p ?o WHERE {{ <urn:t:customer:{c}> ?p ?o }}",
                    "SELECT p, o FROM (" + " UNION ALL ".join(
                        f"SELECT '{p}' AS p, {o} AS o FROM customer WHERE c_custkey = {c}"
                        for p, o in [
                            ("urn:p:customer:c_custkey", "CAST(c_custkey AS VARCHAR)"),
                            ("urn:p:customer:c_name", "c_name"),
                            ("urn:p:customer:c_nationkey", "CAST(c_nationkey AS VARCHAR)"),
                            ("urn:p:customer:c_acctbal", dec("c_acctbal")),
                            ("urn:p:customer:c_mktsegment", "c_mktsegment"),
                            ("urn:fk:nation", "'urn:t:nation:' || c_nationkey")]) + ")"))
        c = rng.randrange(nc)
        ops.append((f"revfk_{i}", "sparql", "revfk",
                    f"SELECT ?o WHERE {{ ?o <urn:fk:customer> <urn:t:customer:{c}> }}",
                    f"SELECT 'urn:t:orders:' || o_orderkey AS o FROM orders WHERE o_custkey = {c}"))
        c = rng.randrange(nc)
        ops.append((f"walk2_{i}", "sparql", "walk2",
                    f"SELECT ?o ?qty WHERE {{ ?o <urn:fk:customer> <urn:t:customer:{c}> . "
                    f"?l <urn:fk:orders> ?o . ?l <urn:p:lineitem:l_quantity> ?qty }}",
                    f"SELECT 'urn:t:orders:' || o_orderkey AS o, {dec('l_quantity')} AS qty "
                    f"FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE o_custkey = {c}"))
        k = rng.randrange(no)
        c = rng.randrange(nc)
        ops.append((f"ask_{i}", "sparql", "ask",
                    f"ASK {{ <urn:t:orders:{k}> <urn:fk:customer> <urn:t:customer:{c}> }}",
                    f"SELECT count(*) > 0 AS ask FROM orders "
                    f"WHERE o_orderkey = {k} AND o_custkey = {c}"))
    for i in range(1):  # one DESCRIBE: it costs as much as the other ten lookups
        k = rng.randrange(no)
        ops.append((f"describe_{i}", "sparql", "describe", f"DESCRIBE <urn:t:orders:{k}>",
                    "SELECT s AS subject, p AS predicate, o AS object FROM (" + " UNION ALL ".join(
                        f"SELECT 'urn:t:orders:{k}' AS s, '{p}' AS p, {o} AS o FROM orders "
                        f"WHERE o_orderkey = {k}" for p, o in [
                            ("urn:p:orders:o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
                            ("urn:p:orders:o_custkey", "CAST(o_custkey AS VARCHAR)"),
                            ("urn:p:orders:o_orderstatus", "o_orderstatus"),
                            ("urn:p:orders:o_totalprice", dec("o_totalprice")),
                            ("urn:p:orders:o_orderdate",
                             "strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ')"),
                            ("urn:p:orders:o_orderpriority", "o_orderpriority"),
                            ("urn:fk:customer", "'urn:t:customer:' || o_custkey")]) + ")"))
    return ops


def _load_plan(seed, work_dir):
    files, checks = gen_data.ntriples(work_dir, seed, LOAD_CREATE_SUBJECTS,
                                      LOAD_BATCH_SUBJECTS, LOAD_BATCHES)
    create = files[0]
    canary = ("create", "create", "write", create["file"],
              {"quads": create["quads"], "bytes": create["bytes"]})
    ops = []
    for f, chk in zip(files, checks):
        b = chk["batch"]
        if b > 0:
            ops.append((f"load_{b}", "load", "write", f["file"],
                        {"rows": [], "quads": f["quads"], "bytes": f["bytes"]}))
        for j, lk in enumerate(chk["lookups"][:LOOKUPS_PER_BATCH]):
            ops.append((f"lookup_{b}_{j}", "lsparql", "read",
                        f"SELECT ?p ?o WHERE {{ <{lk['subject']}> ?p ?o }}",
                        {"columns": ["p", "o"], "rows": lk["rows"]}))
        ops.append((f"count_batch_{b}", "lsparql", "read",
                    f"SELECT (COUNT(?s) AS ?n) WHERE {{ ?s <urn:kb:p:age> ?a "
                    f"FILTER(STRSTARTS(STR(?s), \"{chk['prefix']}\")) }}",
                    {"columns": ["n"], "rows": [[str(chk["batch_count"])]]}))
    ops.append(("count_all", "lsparql", "read",
                "SELECT (COUNT(?s) AS ?n) WHERE { ?s <urn:kb:p:age> ?a }",
                {"columns": ["n"], "rows": [[str(checks[-1]["age_count"])]]}))
    return canary, ops


def plan(workload, seed, work_dir):
    """(canary, ops): the op every set-up ends with and the pass's op list.
    The canary is seed-independent except for load_update, whose set-up
    creates the store the passes load into (same size for every seed)."""
    rng = random.Random(seed)
    if workload == "load_update":
        return _load_plan(seed, work_dir)
    if workload == "sparql_lookup":
        ops = _lookup_ops(rng)
        rng.shuffle(ops)
        return ("canary", "sparql", "star",
                "SELECT ?status WHERE { <urn:t:orders:0> <urn:p:orders:o_orderstatus> ?status }",
                None), ops
    names = ANALYTIC if workload == "sparql_analytic" else PIPELINE
    first = "q_bgp_star" if workload == "sparql_analytic" else "text_tokens"
    return (first, "battery", family(first), first, None), \
        [(n, "battery", family(n), n, n) for n in names]


WORKLOADS = ["sparql_lookup", "sparql_analytic", "load_update", "pipeline_mix"]
