"""Output checks for the task-mode benchmark.

Every mode call's output is recomputed in DuckDB from the generated
input and compared, untimed, after the JVM has exited:

- assess and check: the report hash-matches the engine's registered
  oracle SQL (`a36_assess_report`, `k1`/`k7`/`k6`/`k8` by direction),
  hashed the way the repo's oracle gate hashes;
- prepare: the four rule families are seeded;
- reverse: one DDL per table, naming every column, and the artifact;
- full: every chunk matched, no fix rows, per-chunk row counts equal
  the source's under the configured chunk plan;
- csv: per-table row counts, in the report and in the bytes written;
- all: the surviving keys and values equal a last-writer-wins replay
  of the base snapshot and the change feed;
- compare / compare_rows: per-chunk row counts and matched flags, and
  the number of fix statements, equal a recomputation over the
  engine's drifted target (`Compare.driftedOrdersSql`).

`check_call` returns a list of failure messages (empty when the output
is correct) and the work counts the traced run reports.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

CHECK_ORACLE = {("oracle", "mysql"): "k1_struct_diff",
                ("oracle", "tidb"): "k7_o2t_check",
                ("mysql", "oracle"): "k6_m2o_struct_diff",
                ("tidb", "oracle"): "k8_t2o_check"}

MAX_FIX_STMTS_PER_CHUNK = 10000
MAX_FIX_CHUNKS = 256
MAX_PLANNED_CHUNKS = 1 << 20


def norm_df(df):
    """Canonical per-cell strings, columns and rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.copy()
    for c in out.columns:
        col = out[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif pd.api.types.is_datetime64_any_dtype(col):
            out[c] = col.astype("datetime64[us]").map(
                lambda v: "NULL" if pd.isna(v) else v.isoformat())
        else:
            out[c] = col.map(lambda v: "NULL" if v is None or (
                isinstance(v, float) and pd.isna(v)) else str(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def df_hash(df):
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(map(str, row)) + "\x1e").encode())
    return h.hexdigest()


def plan_width(mn, mx, cnt, chunk_rows):
    """`Pipeline.planFixedWidth`'s key width."""
    def ceil_div(a, b):
        return -(-a // b)
    n = max(1, min(ceil_div(cnt, chunk_rows), MAX_PLANNED_CHUNKS))
    return max(1, ceil_div(mx - mn + 1, n))


class Checker:
    def __init__(self, data_dir, config, oracles):
        self.config = config
        self.oracles = oracles
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        self.rows = {t: self.one(f"SELECT count(*) FROM {t}") for t in TABLES}
        self._cache = {}

    def one(self, sql):
        return self.con.execute(sql).fetchone()[0]

    def df(self, sql):
        return self.con.execute(sql).df()

    def report(self, out, mode):
        return self.df(f"SELECT * FROM read_parquet('{out}/report_{mode}.parquet/*.parquet')")

    def cached(self, key, fn):
        if key not in self._cache:
            self._cache[key] = fn()
        return self._cache[key]

    def hash_match(self, got, oracle_name):
        want = self.cached(oracle_name, lambda: norm_df(self.df(self.oracles[oracle_name])))
        got = norm_df(got)
        if list(got.columns) != list(want.columns):
            return [f"{oracle_name}: columns {list(got.columns)} != {list(want.columns)}"]
        if len(got) != len(want):
            return [f"{oracle_name}: {len(got)} rows, oracle has {len(want)}"]
        if df_hash(got) != df_hash(want):
            return [f"{oracle_name}: value hash differs from the oracle"]
        return []

    # ------------------------------------------------------------ modes

    def check_call(self, call):
        """(failures, counts) for one call's output."""
        if call.get("error"):
            return [f"call failed: {call['error']}"], {}
        label, out = call["label"], call["out"]
        try:
            rep = self.report(out, call["mode"])
        except Exception as e:  # missing or unreadable report
            return [f"report unreadable: {e}"], {}
        fn = getattr(self, "check_" + label)
        return fn(call, rep)

    def check_prepare(self, call, rep):
        fams = {"datatype_rule_column", "datatype_rule_table",
                "datatype_rule_schema", "name_rule_table"}
        got = dict(zip(rep["rule_family"], rep["n_rules"]))
        fails = []
        if set(got) != fams:
            fails.append(f"rule families {sorted(got)}")
        fails += [f"{f}: no rules" for f, n in got.items() if n <= 0]
        return fails, {}

    def check_assess(self, call, rep):
        fails = self.hash_match(rep, "a36_assess_report")
        for art in ("assess_report.txt", "assess_report.html"):
            p = os.path.join(call["out"], art)
            if not os.path.exists(p) or os.path.getsize(p) == 0:
                fails.append(f"missing artifact {art}")
        return fails, {}

    def check_check(self, call, rep):
        return self.hash_match(rep, CHECK_ORACLE[(call["source"], call["target"])]), {}

    def check_reverse(self, call, rep):
        fails = []
        ddl = dict(zip(rep["table_name"], rep["ddl"]))
        if sorted(ddl) != sorted(TABLES):
            fails.append(f"DDL for tables {sorted(ddl)}")
        for t, text in ddl.items():
            cols = self.cached(("cols", t), lambda: [
                r[0] for r in self.con.execute(f"DESCRIBE {t}").fetchall()])
            low = text.lower()
            if "create table" not in low:
                fails.append(f"{t}: not a CREATE TABLE")
            missing = [c for c in cols if c.lower() not in low]
            if missing:
                fails.append(f"{t}: DDL lacks columns {missing}")
        if not glob.glob(os.path.join(call["out"], "reverse_*.sql")):
            fails.append("missing reverse_*.sql artifact")
        return fails, {}

    def check_full(self, call, rep):
        fails = []
        n = self.rows["orders"]
        want = self.cached("full_chunks", lambda: self.chunk_counts(
            self.config["full"]["chunk-size"]))
        got = dict(zip(rep["chunk_id"].astype(int), rep["n_rows"].astype(int)))
        if got != want:
            fails.append(f"per-chunk rows {sorted(got.items())[:4]}... != "
                         f"{sorted(want.items())[:4]}...")
        if not rep["matched"].all():
            fails.append(f"{int((~rep['matched']).sum())} chunks not matched")
        if int(rep["n_fix"].sum()) != 0:
            fails.append(f"{int(rep['n_fix'].sum())} fix rows, want 0")
        if int(rep["n_rows"].sum()) != n:
            fails.append(f"rows landed {int(rep['n_rows'].sum())} != {n}")
        return fails, {"full.rows_landed": int(rep["n_rows"].sum()),
                       "full.chunks": len(rep),
                       "full.chunks_matched_ratio":
                           float(rep["matched"].mean()) if len(rep) else 0.0}

    def chunk_counts(self, chunk_rows):
        mn, mx, cnt = self.con.execute(
            "SELECT min(o_orderkey), max(o_orderkey), count(*) FROM orders").fetchone()
        kw = plan_width(mn, mx, cnt, chunk_rows)
        return dict(self.con.execute(
            f"SELECT (o_orderkey - {mn}) // {kw}, count(*) FROM orders "
            f"GROUP BY 1").fetchall())

    def check_csv(self, call, rep):
        fails = []
        got = dict(zip(rep["table_name"], rep["n_rows"].astype(int)))
        if got != self.rows:
            fails.append(f"report rows {got} != input {self.rows}")
        term = self.config["csv"]["terminator"].encode()
        for t in TABLES:
            lines = 0
            for f in glob.glob(os.path.join(call["out"], "csv", t, "chunk_id=*", "*")):
                if os.path.basename(f).startswith(("00000_header", ".")):
                    continue
                with open(f, "rb") as fh:
                    lines += fh.read().count(term)
            if lines != self.rows[t]:
                fails.append(f"{t}: {lines} data lines written, want {self.rows[t]}")
        return fails, {"csv.rows_written": int(rep["n_rows"].sum()),
                       "csv.chunks": int(rep["n_chunks"].sum())}

    def check_all(self, call, rep):
        want = self.all_expect()
        fails = []
        a, b = norm_df(rep[["key", "scn", "seq", "value"]]), norm_df(want)
        if len(a) != len(b) or df_hash(a) != df_hash(b):
            fails.append(f"final state: {len(a)} keys, replay has {len(b)} "
                         "(or values differ)")
        return fails, {"all.changes_in": self.rows["customer"] + self.rows["events"],
                       "all.keys_applied": len(rep)}

    def all_expect(self):
        """The last-writer-wins state after the base snapshot (scn -1)
        and the event feed: per key the latest (scn, seq) change, kept
        unless it is a DELETE."""
        return self.cached("all_state", lambda: self.df("""
            WITH ch AS (
              SELECT -1 AS scn, 0 AS seq, 'INSERT' AS op, c_custkey AS key,
                     c_acctbal AS value FROM customer
              UNION ALL
              SELECT event_id // 8, event_id % 8,
                     CASE WHEN event_type = 'signup' THEN 'INSERT'
                          WHEN event_type = 'error' THEN 'DELETE'
                          ELSE 'UPDATE' END,
                     user_id, value FROM events),
            last AS (SELECT *, row_number() OVER (
                       PARTITION BY key ORDER BY scn DESC, seq DESC) AS rn
                     FROM ch)
            SELECT key, CAST(scn AS BIGINT) AS scn, CAST(seq AS BIGINT) AS seq,
                   value
            FROM last WHERE rn = 1 AND op <> 'DELETE'"""))

    def compare_expect(self):
        """Per-chunk (src_rows, tgt_rows, n_diff) over the drifted target."""
        def build():
            mn, mx, cnt = self.con.execute(
                "SELECT min(o_orderkey), max(o_orderkey), count(*) FROM orders").fetchone()
            kw = plan_width(mn, mx, cnt, self.config["compare"]["chunk-size"])
            proj = ("o_orderkey, o_custkey, o_orderstatus, "
                    "CAST(o_totalprice AS DECIMAL(14,2)) AS p, "
                    "CAST(o_orderdate AS DATE) AS d, o_orderpriority")
            tgt = self.oracles["drifted_orders"]
            rows = self.con.execute(f"""
                WITH s AS (SELECT {proj} FROM orders),
                t AS (SELECT {proj} FROM {tgt} x),
                d AS ((SELECT * FROM s EXCEPT ALL SELECT * FROM t)
                      UNION ALL (SELECT * FROM t EXCEPT ALL SELECT * FROM s)),
                sc AS (SELECT (o_orderkey - {mn}) // {kw} AS c, count(*) AS n
                       FROM s GROUP BY 1),
                tc AS (SELECT (o_orderkey - {mn}) // {kw} AS c, count(*) AS n
                       FROM t GROUP BY 1),
                dc AS (SELECT (o_orderkey - {mn}) // {kw} AS c, count(*) AS n
                       FROM d GROUP BY 1)
                SELECT coalesce(sc.c, tc.c) AS c, coalesce(sc.n, 0),
                       coalesce(tc.n, 0), coalesce(dc.n, 0)
                FROM sc FULL OUTER JOIN tc ON sc.c = tc.c
                LEFT JOIN dc ON dc.c = coalesce(sc.c, tc.c)""").fetchall()
            return {int(c): (int(s), int(t), int(n)) for c, s, t, n in rows}
        return self.cached("compare", build)

    def compare_report(self, rep):
        return {int(r.chunk_id): (int(r.src_rows), int(r.tgt_rows), bool(r.matched))
                for r in rep.itertuples(index=False)}

    def check_compare(self, call, rep):
        exp = self.compare_expect()
        want = {c: (s, t, n == 0) for c, (s, t, n) in exp.items()}
        got = self.compare_report(rep)
        fails = []
        if got != want:
            fails.append("per-chunk rows/matched differ from the recomputation")
        mism = sorted(c for c, (_, _, n) in exp.items() if n)[:MAX_FIX_CHUNKS]
        want_fix = sum(min(exp[c][2], MAX_FIX_STMTS_PER_CHUNK) for c in mism)
        path = os.path.join(call["out"], "fix_orders.sql")
        got_fix = 0
        if os.path.exists(path):
            with open(path) as fh:
                got_fix = sum(1 for line in fh
                              if line.startswith(("REPLACE INTO", "DELETE FROM")))
        if got_fix != want_fix:
            fails.append(f"{got_fix} fix statements, want {want_fix}")
        return fails, {"compare.rows_compared": int((rep["src_rows"] + rep["tgt_rows"]).sum()),
                       "compare.fix_rows": got_fix,
                       "compare.mismatched_chunks": int((~rep["matched"]).sum())}

    def check_compare_rows(self, call, rep):
        exp = self.compare_expect()
        want = {c: (s, t, s == t) for c, (s, t, _) in exp.items()}
        if self.compare_report(rep) != want:
            return ["per-chunk row counts differ from the recomputation"], {}
        return [], {}
