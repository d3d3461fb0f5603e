"""Output checks that do not go through graft's operators.

Each workload's outputs are read back from the files the run wrote and
compared, in DuckDB, with the same answer computed from the generated
parquet inputs:

- export_snapshot: every export's keys (as a multiset) and row count
  against plain SQL for its sync mode; the row-hash column is present
  and md5-shaped on every row.
- cdc_chain: the first-sync snapshot against a latest-per-key fold; each
  cycle's output against its watermark window, the union of the cycles
  covering the whole range with no gap and no overlap; the final merge
  state against a latest-per-key query (the q_cdc_merge oracle's shape).
- curate_dedup: the manifest against `Pipeline.duckPrepCorpus`, the
  engine's SQL twin with exact pairwise Jaccard in place of LSH.
- ann_search: recall against an exact top-10 is checked in the JVM; here
  the saved index must hold one code row per vector.

`run(record)` checks every part of a run and returns
{"failures": [...], "sink_bytes": n, "sink_rows": n}.
"""
import gzip
from pathlib import Path

import duckdb


def data_files(path: str, suffix: str) -> list:
    """Data files of a Spark output directory. Empty gzip parts (a task
    that wrote no rows) are left out: DuckDB's JSON reader hangs on them.
    """
    def empty_gz(f: Path) -> bool:
        with gzip.open(f, "rb") as g:
            return not g.read(1)
    return sorted(str(f) for f in Path(path).glob(f"*{suffix}")
                  if not f.name.startswith((".", "_"))
                  and not (f.name.endswith(".gz") and empty_gz(f)))


def nbytes(path: str) -> int:
    """Bytes of every data file under an output directory."""
    return sum(f.stat().st_size for f in Path(path).rglob("*")
               if f.is_file() and not f.name.startswith((".", "_")))


def rel(files: list, kind: str) -> str:
    listing = "[" + ",".join(f"'{f}'" for f in files) + "]"
    if kind == "json":
        return f"read_json({listing}, format='newline_delimited')"
    if kind == "csv":
        return f"read_csv({listing}, header=true)"
    return f"read_parquet({listing})"


def same_multiset(con, got: str, want: str) -> tuple:
    """(rows in got not in want, rows in want not in got), multiset-wise."""
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM ({got}) EXCEPT ALL SELECT * FROM ({want}))").fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM ({want}) EXCEPT ALL SELECT * FROM ({got}))").fetchone()[0]
    return extra, missing


def check_export(con, rec, fails):
    man = rec["manifest"]
    inputs = rec["inputs"]
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{inputs}/lineitem.parquet/*.parquet')")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{inputs}/events.parquet/*.parquet')")
    sec = "CAST(floor(epoch(ts)) AS BIGINT) * 1000"
    li_key = "l_orderkey, l_partkey, l_suppkey, CAST(l_linenumber AS BIGINT), l_quantity, l_extendedprice"
    want = {
        "full_lineitem": (li_key, f"SELECT {li_key} FROM lineitem"),
        "time_based_events": ("event_id", f"""SELECT event_id FROM events
            WHERE event_type IS NOT NULL AND event_type <> '' AND props IS NOT NULL
              AND props <> '' AND {sec} >= {man['cutoff_ms']}
              AND {sec} <= {man['now_ms'] - man['delay_ms']}"""),
        "scd_latest_events": ("event_id", """SELECT event_id FROM (
            SELECT event_id, row_number() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1"""),
        "full_events_csv": ("event_id", "SELECT event_id FROM events"),
    }
    total_bytes = total_rows = 0
    hc = man["hash_col"]
    for job in man["jobs"]:
        files = data_files(job["path"], f".{job['format']}.gz")
        if not files:
            fails.append(f"export {job['job']}: no output files")
            continue
        out = rel(files, job["format"])
        keys, expected = want[job["job"]]
        n, bad_hash = con.execute(
            # DuckDB reads a 32-hex-digit JSON string as a UUID.
            f"SELECT count(*), count(*) FILTER (WHERE NOT coalesce(regexp_full_match("
            f"replace(CAST({hc} AS VARCHAR), '-', ''), '[0-9a-f]{{32}}'), false)) FROM {out}").fetchone()
        extra, missing = same_multiset(con, f"SELECT {keys} FROM {out}", expected)
        if extra or missing or bad_hash:
            fails.append(f"export {job['job']}: {extra} unexpected rows, {missing} missing rows, "
                         f"{bad_hash} rows without an md5 {hc}")
        total_bytes += nbytes(job["path"])
        total_rows += n
    return total_bytes, total_rows


def check_cdc(con, rec, fails):
    man = rec["manifest"]
    inputs = rec["inputs"]
    marks = man["watermarks"]
    con.execute(f"""CREATE VIEW log AS SELECT *, epoch_ms(_commit_timestamp) AS ms
        FROM read_parquet('{inputs}/changelog.parquet/*.parquet')""")
    con.execute("CREATE VIEW ev AS SELECT * FROM log WHERE _change_type <> 'update_preimage'")
    total_bytes = total_rows = 0
    if not marks:
        fails.append("cdc: no watermark recorded")
        return 0, 0
    wm0 = marks[0]
    # First sync: each live key's row is one of its latest rows at wm0.
    snap_files = data_files(man["snapshot"], ".json.gz")
    snap = rel(snap_files, "json") if snap_files else None
    if snap is None:
        fails.append("cdc: first sync wrote nothing")
    else:
        latest = f"""SELECT user_id, event_id, _change_type FROM (
            SELECT *, max(ms) OVER (PARTITION BY user_id) AS top FROM ev WHERE ms <= {wm0})
            WHERE ms = top"""
        live_users = f"""SELECT DISTINCT user_id FROM ({latest}) WHERE _change_type <> 'delete'"""
        extra, missing = same_multiset(con, f"SELECT user_id FROM {snap}", live_users)
        stray = con.execute(f"""SELECT count(*) FROM {snap} s ANTI JOIN ({latest}) l
            ON l.user_id = s.user_id AND l.event_id = s.event_id""").fetchone()[0]
        if extra or missing or stray:
            fails.append(f"cdc first sync: {extra} unexpected keys, {missing} missing keys, "
                         f"{stray} rows that are not the key's latest change")
        total_bytes += nbytes(man["snapshot"])
        total_rows += con.execute(f"SELECT count(*) FROM {snap}").fetchone()[0]
    # Incremental cycles: each exactly its window; together (wm0, wmN].
    union = []
    for i, path in enumerate(man["cycles"], start=1):
        lo, hi = marks[i - 1], marks[i]
        files = data_files(path, ".json.gz")
        want = f"SELECT event_id FROM log WHERE ms > {lo} AND ms <= {hi}"
        got = f"SELECT event_id FROM {rel(files, 'json')}" if files else "SELECT NULL::BIGINT AS event_id WHERE false"
        extra, missing = same_multiset(con, got, want)
        if extra or missing:
            fails.append(f"cdc cycle {i}: {extra} rows outside ({lo}, {hi}], {missing} rows missed")
        total_bytes += nbytes(path)
        total_rows += con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
        union.append(got)
    if union:
        extra, missing = same_multiset(
            con, " UNION ALL ".join(union),
            f"SELECT event_id FROM log WHERE ms > {wm0} AND ms <= {marks[-1]}")
        if extra or missing:
            fails.append(f"cdc cycles together: {extra} overlapping or stray rows, {missing} gaps")
    # Final merge state: the latest change per key, tombstones included.
    state_files = data_files(man["state"], ".parquet")
    want = f"""SELECT user_id, event_id, _change_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
        FROM ev WHERE ms <= {marks[-1]}) WHERE rn = 1"""
    got = f"SELECT user_id, event_id, _change_type FROM {rel(state_files, 'parquet')}"
    extra, missing = same_multiset(con, got, want) if state_files else (0, -1)
    if extra or missing:
        fails.append(f"cdc merge state: {extra} unexpected rows, {missing} missing rows")
    return total_bytes, total_rows


def check_curate(con, rec, fails):
    man = rec["manifest"]
    inputs = rec["inputs"]
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{inputs}/documents.parquet/*.parquet')")
    files = data_files(man["manifest"], ".json.gz")
    if not files:
        fails.append("curate: empty manifest")
        return 0, 0
    out = rel(files, "json")
    con.execute(f"CREATE TEMP TABLE twin AS {man['twin_sql']}")
    extra, missing = same_multiset(con, f"SELECT doc_id FROM {out}", "SELECT doc_id FROM twin")
    differ = con.execute(f"""SELECT count(*) FROM {out} o JOIN twin t USING (doc_id)
        WHERE o.lang_pred <> t.lang_pred OR o.n_tokens <> t.n_tokens
           OR abs(o.quality - t.quality) > 1e-9""").fetchone()[0]
    if extra or missing or differ:
        fails.append(f"curate manifest vs SQL twin: {extra} unexpected docs, {missing} missing docs, "
                     f"{differ} docs with other scores")
    n = con.execute(f"SELECT count(*) FROM {out}").fetchone()[0]
    return nbytes(man["manifest"]), n


def check_ann(con, rec, fails):
    man = rec["manifest"]
    codes = data_files(f"{man['index']}/codes.parquet", ".parquet")
    book = data_files(f"{man['index']}/codebook.parquet", ".parquet")
    if not codes or not book:
        fails.append("ann: index not saved")
        return 0, 0
    n, ids = con.execute(
        f"SELECT count(*), count(DISTINCT vec_id) FROM {rel(codes, 'parquet')}").fetchone()
    if n != man["vectors"] or ids != n:
        fails.append(f"ann index: {n} code rows for {man['vectors']} vectors ({ids} distinct)")
    return nbytes(man["index"]), n


CHECKS = {"export_snapshot": check_export, "cdc_chain": check_cdc,
          "curate_dedup": check_curate, "ann_search": check_ann}


def run(rec: dict) -> dict:
    """Checks every part of the run's workload (the manifest holds one
    entry per part; its inputs are under `<inputs>/<part>`).
    """
    fails, total_bytes, total_rows = [], 0, 0
    for part, man in rec["manifest"].items():
        con = duckdb.connect()
        con.execute("SET threads = 4")
        con.execute("SET TimeZone = 'UTC'")
        try:
            n_bytes, n_rows = CHECKS[part](
                con, {"manifest": man, "inputs": f"{rec['inputs']}/{part}"}, fails)
            total_bytes += n_bytes
            total_rows += n_rows
        except duckdb.Error as e:
            fails.append(f"{part}: check could not run: {e}")
        finally:
            con.close()
    return {"failures": fails, "sink_bytes": total_bytes, "sink_rows": total_rows}
