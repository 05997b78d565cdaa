"""Seeded input generator for the pipeline benchmark.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical files. Each generator returns the input properties the
result records (rows, bytes, file count and the workload's own property:
invalid-row share, near-duplicate share, or edge count and maximum degree)
plus the ground truth the output check needs.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import random
import sys

# records_etl -----------------------------------------------------------------

ETL_ROWS = 100_000
ETL_FILES = 8
# each of these is drawn independently per row; a row is invalid when it
# breaks either validator rule, so the invalid share is about 5%
ETL_BAD_QTY = 0.025
ETL_NO_NAME = 0.025
ETL_CATEGORIES = "ABCDEFGHIJ"  # the config's referential maps A-H; I, J stay unmatched
ETL_COUNTRIES = ["fr", "de", "es", "it", "nl", "be", "pt", "pl", "se", "dk", "ie", "at"]
ETL_NAMES = ["ana", "bo", "chen", "dara", "eli", "femi", "gus", "hana", "ivo", "jun",
             "kai", "lea", "milo", "nia", "omar", "pia", "quin", "rui", "sol", "tara"]
WORDS = ["batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
         "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big",
         "key", "window", "table", "stream", "customer", "the", "join", "data", "vector",
         "plan", "shuffle", "cache", "node", "edge", "merge", "split", "index", "page",
         "block", "file", "row", "lake", "delta", "frame", "task", "stage", "job",
         "driver", "executor", "memory", "disk", "spill", "skew", "bucket", "token",
         "model", "train", "eval", "score", "rank", "graph"]


def records_etl(seed, out):
    rng = random.Random(seed)
    os.makedirs(os.path.join(out, "records"), exist_ok=True)
    files = [open(os.path.join(out, "records", f"part-{i}.jsonl"), "w") for i in range(ETL_FILES)]
    invalid = 0
    try:
        for i in range(ETL_ROWS):
            bad_qty = rng.random() < ETL_BAD_QTY
            no_name = rng.random() < ETL_NO_NAME
            invalid += bad_qty or no_name
            qty = rng.randint(-5, 0) if bad_qty else rng.randint(1, 20)
            rec = {"id": i}
            if not no_name:
                rec["name"] = f"{rng.choice(ETL_NAMES)} {rng.choice(ETL_NAMES)}-{rng.randint(1, 999)}"
            rec["category"] = rng.choice(ETL_CATEGORIES)
            rec["qty"] = qty
            rec["price_cents"] = rng.randint(50, 9_999)
            rec["country"] = rng.choice(ETL_COUNTRIES)
            rec["note"] = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))
            files[i % ETL_FILES].write(json.dumps(rec, separators=(",", ":")) + "\n")
    finally:
        for f in files:
            f.close()
    return {"rows": ETL_ROWS, "files": ETL_FILES, "bytes": _tree_bytes(os.path.join(out, "records")),
            "invalid_rows": invalid, "invalid_share": invalid / ETL_ROWS}, {}


# corpus_dedup ----------------------------------------------------------------

CORPUS_DOCS = 2_000
CORPUS_SOURCES = 10
# shares of the base corpus that get one extra copy each; near-duplicates
# change one word in about fifty, so their 3-shingle Jaccard sits near 0.9,
# above the config's 0.7 threshold
CORPUS_EXACT_DUP = 0.04
CORPUS_NEAR_DUP = 0.04
CORPUS_LANGS = ["en", "en", "en", "zh", "de", "fr"]


def corpus_dedup(seed, out):
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    docs = []
    for i in range(CORPUS_DOCS):
        toks = [rng.choice(WORDS) for _ in range(rng.randint(20, 80))]
        if rng.random() < 0.1:  # PII for the scrub step
            toks.insert(rng.randrange(len(toks)), f"{rng.choice(ETL_NAMES)}{rng.randint(1, 99)}@mail.example.com")
        docs.append((i, " ".join(toks), rng.choice(CORPUS_LANGS), f"src{i % CORPUS_SOURCES}"))
    # copies take ids above every base id, so each duplicate component's
    # min id (the representative dedup keeps) is its base document
    bases = rng.sample(range(CORPUS_DOCS), int(CORPUS_DOCS * (CORPUS_EXACT_DUP + CORPUS_NEAR_DUP)))
    n_exact = int(CORPUS_DOCS * CORPUS_EXACT_DUP)
    groups = []
    next_id = CORPUS_DOCS
    for k, b in enumerate(bases):
        _, text, lang, source = docs[b]
        if k < n_exact:
            docs.append((next_id, text, lang, source))
            groups.append([b, next_id])
        else:
            toks = text.split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(WORDS) + "x"
            docs.append((next_id, " ".join(toks), lang, source))
        next_id += 1
    order = list(range(len(docs)))
    rng.shuffle(order)
    docs = [docs[j] for j in order]
    table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "source": [d[3] for d in docs],
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
    })
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "docs.parquet")
    pq.write_table(table, path)
    return ({"rows": len(docs), "files": 1, "bytes": os.path.getsize(path),
             "exact_dup_share": n_exact / len(docs),
             "near_dup_share": (len(bases) - n_exact) / len(docs)},
            {"ids": [d[0] for d in docs], "exact_groups": groups})


# graph_loops -----------------------------------------------------------------

GRAPH_NODES = 2_000
GRAPH_EDGES = 8_000
GRAPH_HUBS = 6
# bow-tie shares (Broder et al.): IN nodes only send edges, OUT nodes only
# receive them, the rest form one strongly connected core
GRAPH_IN = 0.25
GRAPH_OUT = 0.25


def graph_loops(seed, out):
    """A bow-tie graph with skewed degrees. Every core node has an edge to
    and from one of a few hubs, and the hubs are fully connected, so the
    core is one SCC of diameter at most three; IN and OUT nodes are
    singletons.
    Node ids are a random permutation, so no id order favours a root."""
    rng = random.Random(seed)
    n = GRAPH_NODES
    ids = list(range(n))
    rng.shuffle(ids)
    n_in, n_out = int(n * GRAPH_IN), int(n * GRAPH_OUT)
    ins, outs, core = ids[:n_in], ids[n_in:n_in + n_out], ids[n_in + n_out:]
    hubs = core[:GRAPH_HUBS]

    def skewed(nodes, power):
        # density falls as a power of the position, so early nodes are hubs
        return nodes[int(len(nodes) * rng.random() ** power)]

    edges = {(a, b) for a in hubs for b in hubs if a != b}
    for v in core[GRAPH_HUBS:]:
        edges.add((v, rng.choice(hubs)))
        edges.add((rng.choice(hubs), v))
    while len(edges) < GRAPH_EDGES:
        r = rng.random()
        if r < 0.5:
            e = (skewed(core, 2.0), skewed(core, 2.0))
        elif r < 0.7:
            e = (skewed(ins, 1.0), skewed(core, 2.5))
        elif r < 0.9:
            e = (skewed(core, 2.5), skewed(outs, 1.0))
        else:
            e = (skewed(ins, 1.0), skewed(outs, 1.0))
        if e[0] != e[1]:
            edges.add(e)
    edges = sorted(edges)
    rng.shuffle(edges)
    deg = {}
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        deg[d] = deg.get(d, 0) + 1
    os.makedirs(os.path.join(out, "edges"), exist_ok=True)
    path = os.path.join(out, "edges", "edges.jsonl")
    with open(path, "w") as f:
        for s, d in edges:
            f.write(f'{{"src":{s},"dst":{d}}}\n')
    return ({"rows": len(edges), "files": 1, "bytes": os.path.getsize(path),
             "edges": len(edges), "nodes": len(deg), "max_degree": max(deg.values()),
             "core_nodes": len(core)},
            {"edges": edges})


def _tree_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


GENERATORS = {"records_etl": records_etl, "corpus_dedup": corpus_dedup, "graph_loops": graph_loops}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return (properties, truth)."""
    return GENERATORS[workload](seed, out)


if __name__ == "__main__":
    props, _ = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(props))
