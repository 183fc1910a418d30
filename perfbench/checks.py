"""Output checks, run after the timed ops: DuckDB recomputes what each op
should have produced from the same inputs.

Result comparison follows the repository's oracle gate: columns sorted by
name, the same number of rows, values equal as strings in result order,
NULL distinct from every value."""
import glob
import os

import duckdb

from datagen import TABLES


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def _text(v):
    return "NULL" if v is None else str(v)


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when the results agree, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} vs {len(want_rows)}"
    gi = [got_cols.index(c) for c in sorted(got_cols)]
    wi = [want_cols.index(c) for c in sorted(want_cols)]
    for r, (g, w) in enumerate(zip(got_rows, want_rows)):
        for c, a, b in zip(sorted(got_cols), gi, wi):
            if _text(g[a]) != _text(w[b]):
                return f"row {r} column {c}: got {g[a]!r}, want {w[b]!r}"
    return None


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _values(con, relation):
    """Each column of `relation` as a text expression: NULL marked apart
    from the empty string, timestamps as UTC wall-clock time to the
    millisecond, the precision of the repository's CSV dialect (FIXTURES.md,
    canonicalization rule 3)."""
    out = []
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall():
        ref = f'"{name}"'
        if typ.startswith("TIMESTAMP"):
            ref = f"date_trunc('millisecond', CAST({ref} AS TIMESTAMP))"
        out.append(f"COALESCE('v' || CAST({ref} AS VARCHAR), 'N')")
    return out


def fingerprint(con, relation):
    """Order-independent (rows, hash sum) of a relation, each row hashed as
    the text of its values in column order."""
    row = " || chr(31) || ".join(_values(con, relation))
    return con.execute(f"SELECT COUNT(*), SUM(hash({row})) FROM {relation}").fetchone()


def differing_columns(con, got, want):
    """Positions (1-based) of the columns whose value multisets differ."""
    sums = [con.execute("SELECT " + ", ".join(f"SUM(hash({v}))" for v in _values(con, r))
                        + f" FROM {r}").fetchone() for r in (got, want)]
    return [i + 1 for i, (a, b) in enumerate(zip(*sums)) if a != b]


def bind(sql, params):
    for k, v in params.items():
        sql = sql.replace(f":{k}", str(int(v)))
    return sql


def check_transfer(con, result, plan):
    """Failed op ids: an export whose row count is not COUNT(*) of its SQL,
    an import whose table is not the rows its export read."""
    t = plan["transfer"]
    failed, sums = {}, {}
    by_iter = {}
    for o in result["ops"]:
        by_iter.setdefault(o["iter"], {})[o["kind"]] = o
    for i, ops in by_iter.items():
        s = t["slices"][i % len(t["slices"])]
        li = f"({bind(t['lineitem_sql'], {'lo': s['lo'], 'hi': s['hi']})})"
        ev = f"({bind(t['events_sql'], {'lo': s['events_lo'], 'hi': s['events_hi']})})"
        sources = {"export_plain": li, "export_gzip": li, "export_events": ev,
                   "import_jdbc": li, "import_catalog": li, "import_events": ev}
        dumps = os.path.join(result["check_dir"], str(i))
        for kind, o in ops.items():
            if "error" in o:
                continue
            source = sources[kind]
            if source not in sums:
                sums[source] = fingerprint(con, source)
            want = sums[source]
            if o["rows"] != want[0]:
                failed[o["id"]] = f"{kind} iteration {i}: {o['rows']} rows, SQL has {want[0]}"
            elif kind.startswith("import"):
                files = sorted(glob.glob(os.path.join(dumps, kind, "*.parquet")))
                table = f"read_parquet({files!r})"
                if not files:
                    failed[o["id"]] = f"{kind} iteration {i}: no table dump"
                elif fingerprint(con, table) != want:
                    cols = differing_columns(con, table, source)
                    failed[o["id"]] = (f"{kind} iteration {i}: re-imported table differs "
                                       f"from its source in columns {cols}")
    return failed


def check_queries(con, result):
    """Failed op ids (every run of an entry whose checked output differs
    from its DuckDB oracle), the result rows of each entry, and the entries
    without an oracle."""
    failed, rows, unchecked = {}, {}, []
    for name in sorted({o["name"] for o in result["ops"] if o["kind"] == "query"}):
        files = sorted(glob.glob(os.path.join(result["check_dir"], name, "*.parquet")))
        oracle = result["oracle_sql"].get(name)
        reason = None
        if not files:
            reason = "no checked output"
        else:
            got = _query(con, f"SELECT * FROM read_parquet({files!r})")
            rows[name] = len(got[1])
            if oracle is None:
                unchecked.append(name)
            else:
                reason = compare(*got, *_query(con, oracle))
        if reason:
            for o in result["ops"]:
                if o["name"] == name:
                    failed[o["id"]] = f"{name}: {reason}"
    return failed, rows, unchecked


# DuckDB's spelling of graft_cosine: a left-to-right fold in double
# precision, which the repository's gate pins as bit-identical. Each
# relation carries its vectors' norms (`n`) so a pair only folds its dot.
DOT = """list_sum(list_transform(list_zip({a}, {b}),
      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"""
NORM = "SQRT(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _cosine(a, b):
    return f"{DOT.format(a=a + '.v', b=b + '.v')} / NULLIF({a}.n * {b}.n, 0)"


def _topk_oracle(kind, name, plan):
    v = plan["topk"]
    k, arg = v["k"], int(name.split("=")[1])
    corpus = f"(SELECT vec_id, embedding AS v, {NORM.format(v='embedding')} AS n FROM embeddings)"
    queries = (f"(SELECT query_id, embedding AS v, {NORM.format(v='embedding')} AS n "
               f"FROM read_parquet('{v['queries_path']}') WHERE batch = {arg})")
    if kind == "topk_batch":
        return (["query_id", "corpus_id", "score", "rank"], f"""
WITH s AS (SELECT q.query_id, e.vec_id AS corpus_id, {_cosine('q', 'e')} AS score
           FROM {corpus} e, {queries} q),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, corpus_id) AS rank
      FROM s)
SELECT query_id, corpus_id, score, rank FROM r WHERE rank <= {k} ORDER BY query_id, rank""")
    if kind == "topk_single":
        return (["vec_id", "score"], f"""
SELECT e.vec_id, {_cosine('e', 'q')} AS score FROM {corpus} e, {queries} q
ORDER BY score DESC, vec_id LIMIT {k}""")
    ids = ", ".join(map(str, v["subsets"][arg]))
    dims = v["matryoshka_dims"]

    def ranked(table):
        return f"""(SELECT query_id, corpus_id FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id, ROW_NUMBER() OVER (
    PARTITION BY a.vec_id ORDER BY {_cosine('a', 'b')} DESC, b.vec_id) AS rn
  FROM {table} a, {table} b WHERE a.vec_id <> b.vec_id) WHERE rn <= {k})"""
    return (["query_id", "n_exact", "n_hit", "recall"], f"""
WITH e AS (SELECT vec_id, embedding AS v, {NORM.format(v='embedding')} AS n
           FROM embeddings WHERE vec_id IN ({ids})),
tr AS (SELECT vec_id, v[1:{dims}] AS v, {NORM.format(v=f'v[1:{dims}]')} AS n FROM e),
j AS (SELECT rf.query_id, CASE WHEN rt.corpus_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM {ranked('e')} rf LEFT JOIN {ranked('tr')} rt
        ON rt.query_id = rf.query_id AND rt.corpus_id = rf.corpus_id)
SELECT query_id, COUNT(*) AS n_exact, SUM(hit) AS n_hit,
       CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM j GROUP BY query_id ORDER BY query_id""")


def check_topk(con, result, plan):
    """Failed op ids: every top-k op's collected rows against its oracle."""
    outputs = {o["op"]: o["rows"] for o in result["outputs"]}
    failed, oracles = {}, {}
    for o in result["ops"]:
        if "error" in o or o["kind"] == "query":
            continue
        key = (o["kind"], o["name"])
        if key not in oracles:
            cols, sql = _topk_oracle(*key, plan)
            oracles[key] = (cols, con.execute(sql).fetchall())
        cols, want = oracles[key]
        got = sorted(map(tuple, outputs.get(o["id"], [])),
                     key=lambda r: (r[0], r[3]) if o["kind"] == "topk_batch" else
                     ((-r[1], r[0]) if o["kind"] == "topk_single" else r[0]))
        reason = compare(cols, got, cols, want)
        if reason:
            failed[o["id"]] = f"{o['kind']} {o['name']}: {reason}"
    return failed
