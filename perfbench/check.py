"""Output checks for the pipeline benchmark: one verdict per execution.

Each check compares an execution's output directory with a reference
computed independently of the program from the same generated input:

- records_etl: the ok and `_error` streams against a DuckDB rewrite of the
  config (row count plus an order-independent sum of row hashes per stream),
  and each stream's field names.
- graph_loops: the (id, scc) rows against an iterative Tarjan over the
  generated edge list; every node, exactly.
- corpus_dedup: the contract invariants (output ids are a subset of the
  input ids; each injected exact-duplicate group keeps exactly one id) and a
  row-hash digest the caller compares across the run's executions.

A check returns (ok, digest, message); digest is None when it does not apply.
"""
import glob
import json
import os

import duckdb

ETL_COLUMNS = {
    "id": "BIGINT", "name": "VARCHAR", "category": "VARCHAR", "qty": "BIGINT",
    "country": "VARCHAR", "note": "VARCHAR", "cat_label": "VARCHAR", "name_uc": "VARCHAR",
    "tier": "VARCHAR", "total_cents": "BIGINT", "label": "VARCHAR",
}
# never null in the generated data, so every output row must carry them
# (the JSON writer omits null fields)
ETL_ALWAYS = {"id", "category", "qty", "country", "note", "tier", "total_cents", "label"}


def _duck():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _json_columns(cols):
    return "{" + ", ".join(f"'{c}': '{t}'" for c, t in cols.items()) + "}"


class RecordsEtl:
    """Reference ok/err digests, computed once per run."""

    def __init__(self, in_dir, config_path):
        with open(config_path) as f:
            steps = json.load(f)
        ref = next(s for s in steps if s["type"] == "referential")
        mapping = json.loads(ref["connector"]["data"])
        con = _duck()
        con.execute("CREATE TABLE cat(code VARCHAR, label VARCHAR)")
        con.executemany("INSERT INTO cat VALUES (?, ?)", [(m["code"], m["label"]) for m in mapping])
        src_cols = {"id": "BIGINT", "name": "VARCHAR", "category": "VARCHAR", "qty": "BIGINT",
                    "price_cents": "BIGINT", "country": "VARCHAR", "note": "VARCHAR"}
        con.execute(f"""
            CREATE TABLE t AS
            SELECT s.id, s.name, s.category, s.qty, s.country, s.note,
                   c.label AS cat_label,
                   upper(s.name) AS name_uc,
                   CASE WHEN s.qty * s.price_cents > 50000 THEN 'gold'
                        WHEN s.qty * s.price_cents > 10000 THEN 'silver'
                        ELSE 'bronze' END AS tier,
                   s.qty * s.price_cents AS total_cents,
                   coalesce(c.label, 'other') AS label,
                   nullif(concat_ws('; ',
                       CASE WHEN NOT (s.qty > 0) THEN 'qty must be positive' END,
                       CASE WHEN s.name IS NULL THEN 'name is missing' END), '') AS _error
            FROM read_json('{in_dir}/records/*.jsonl', format = 'newline_delimited',
                           columns = {_json_columns(src_cols)}) s
            LEFT JOIN cat c ON s.category = c.code""")
        self.expected = {
            "ok": self._digest(con, "SELECT * FROM t WHERE _error IS NULL", list(ETL_COLUMNS)),
            "err": self._digest(con, "SELECT * FROM t WHERE _error IS NOT NULL",
                                list(ETL_COLUMNS) + ["_error"]),
        }
        con.close()

    @staticmethod
    def _digest(con, query, cols):
        # the engine does not promise an order for one row's rule messages
        # (chewdata keeps its rules in a hash map), so `_error` is hashed
        # as its sorted message list
        exprs = ", ".join("list_sort(string_split(_error, '; '))" if c == "_error" else f'"{c}"'
                          for c in cols)
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash({exprs})), 0) FROM ({query})").fetchone()
        return [int(n), str(h)]

    def check(self, out_dir):
        con = _duck()
        try:
            for stream, extra in (("ok", {}), ("err", {"_error": "VARCHAR"})):
                files = sorted(glob.glob(os.path.join(out_dir, stream, "part-*.json")))
                if not files:
                    return False, None, f"{stream}: no output files"
                cols = dict(ETL_COLUMNS, **extra)
                keys = set()
                for line in _head_lines(files, 2000):
                    row = json.loads(line)
                    keys |= row.keys()
                    missing = (ETL_ALWAYS | extra.keys()) - row.keys()
                    if missing:
                        return False, None, f"{stream}: row without {sorted(missing)}"
                if not keys <= cols.keys():
                    return False, None, f"{stream}: unexpected fields {sorted(keys - cols.keys())}"
                files_sql = "[" + ", ".join(f"'{f}'" for f in files) + "]"
                got = self._digest(con, f"SELECT * FROM read_json({files_sql}, format = "
                                        f"'newline_delimited', columns = {_json_columns(cols)})",
                                   list(cols))
                if got != self.expected[stream]:
                    return False, None, f"{stream}: got {got}, expected {self.expected[stream]}"
            return True, None, "ok"
        finally:
            con.close()


def _head_lines(files, n):
    for path in files:
        with open(path) as f:
            for line in f:
                if n == 0:
                    return
                n -= 1
                yield line


def tarjan(edges):
    """Strongly connected components, each labelled by its minimum member id.
    Iterative, so deep graphs do not hit the recursion limit."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, [])
    index, low, on_stack, stack, label = {}, {}, set(), [], {}
    counter = 0
    for root in adj:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, i = work.pop()
            if i == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            nbrs = adj[v]
            while i < len(nbrs):
                w = nbrs[i]
                i += 1
                if w not in index:
                    work.append((v, i))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    label[w] = m
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
    return label


class GraphLoops:
    def __init__(self, truth):
        self.expected = tarjan(truth["edges"])

    def check(self, out_dir):
        con = _duck()
        try:
            rows = con.execute(
                f"SELECT id, scc FROM read_parquet('{out_dir}/scc/*.parquet')").fetchall()
        except duckdb.Error as e:
            return False, None, f"unreadable output: {e}"
        finally:
            con.close()
        got = dict(rows)
        if len(got) != len(rows):
            return False, None, "duplicate node ids in output"
        if got != self.expected:
            wrong = sum(1 for k, v in self.expected.items() if got.get(k) != v)
            return False, None, (f"{wrong} of {len(self.expected)} nodes differ "
                                 f"({len(got)} output rows)")
        return True, None, "ok"


class CorpusDedup:
    def __init__(self, truth):
        self.ids = set(truth["ids"])
        self.groups = truth["exact_groups"]

    def check(self, out_dir):
        con = _duck()
        try:
            path = f"'{out_dir}/clean/*.parquet'"
            ids = {r[0] for r in con.execute(f"SELECT DISTINCT doc_id FROM read_parquet({path})").fetchall()}
            n, h = con.execute(f"SELECT count(*), sum(hash(t)) FROM read_parquet({path}) t").fetchone()
        except duckdb.Error as e:
            return False, None, f"unreadable output: {e}"
        finally:
            con.close()
        if not ids <= self.ids:
            return False, None, f"{len(ids - self.ids)} output ids are not input ids"
        bad = [g for g in self.groups if len(ids.intersection(g)) != 1]
        if bad:
            return False, None, f"{len(bad)} exact-duplicate groups do not keep exactly one id"
        return True, f"{n}:{h}", "ok"


def checker(workload, in_dir, config_path, truth):
    if workload == "records_etl":
        return RecordsEtl(in_dir, config_path)
    if workload == "graph_loops":
        return GraphLoops(truth)
    return CorpusDedup(truth)
