"""The benchmark's correctness gate. It runs untimed, once per invocation.

Query workloads: every query the pass timed is executed once more and
written as parquet by the driver; its rows are compared with the query's
DuckDB oracle (SparkEntry.oracleSql) under the canonicalisation of
tools/check_oracle.py. Oracle results depend only on the SQL text and the
fixed tables, so they are kept as digests in oracle_expected.json, keyed
by the SQL's sha256; an unknown or changed SQL is evaluated in DuckDB and
cached under the work directory.

taar_nightly: the artifacts, the shortlist, the ranking and the final KV
key set are recomputed in DuckDB and Python from the generated inputs.

Every check compares through `mismatch()`; `self_check()` plants a wrong
expectation and fails the gate unless it is caught.
"""
import bz2
import hashlib
import json
import math
import zlib
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HERE = Path(__file__).resolve().parent
EXPECTED_FILE = HERE / "oracle_expected.json"
PIONEER = "pioneer-opt-in@mozilla.org"


def canon(v):
    """tools/check_oracle.py's value canonicalisation."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_rows(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def digest(cols, rows):
    h = hashlib.sha256(json.dumps([cols, rows]).encode())
    return {"cols": cols, "rows": len(rows), "sha256": h.hexdigest()}


def mismatch(got, expected):
    """None when equal, else a one-line reason. Works on digests, sets,
    lists and dicts alike."""
    if got == expected:
        return None
    if isinstance(got, dict) and isinstance(expected, dict):
        keys = sorted(set(got) | set(expected), key=str)
        bad = [k for k in keys if got.get(k) != expected.get(k)]
        return f"{len(bad)} differing keys, first {bad[:3]}"
    if isinstance(got, (set, frozenset)) and isinstance(expected, (set, frozenset)):
        return (f"{len(got - expected)} unexpected, {len(expected - got)} missing, "
                f"e.g. {sorted(got ^ expected)[:2]}")
    return f"got {str(got)[:160]} expected {str(expected)[:160]}"


def _connect(threads=2):
    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    con.sql("SET TimeZone='UTC'")
    return con


# ---------------------------------------------------------------- queries

def _sql_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def _oracle_db(data_dir):
    """DuckDB over the query tables, sized so a heavy oracle cannot take
    the host's memory."""
    con = _connect(threads=1)
    con.sql("SET memory_limit='3GB'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_digests(names, oracle_sql, data_dir, cache_file):
    """name -> expected digest; evaluates in DuckDB only what neither the
    committed file nor the work cache holds for the current SQL."""
    known = {}
    for f in (EXPECTED_FILE, Path(cache_file)):
        if f.exists():
            known.update(json.loads(f.read_text()))
    out, fresh, con = {}, {}, None
    for n in names:
        sql = oracle_sql.get(n)
        if sql is None:
            continue
        k = _sql_key(sql)
        if k not in known:
            con = con or _oracle_db(data_dir)
            known[k] = fresh[k] = digest(*table_rows(con.sql(sql)))
        # an oracle DuckDB cannot evaluate on this data is recorded as
        # such in the committed file and reported as unchecked
        out[n] = (None if "infeasible" in known[k]
                  else {f: known[k][f] for f in ("cols", "rows", "sha256")})
    if fresh:
        cached = json.loads(Path(cache_file).read_text()) if Path(cache_file).exists() else {}
        cached.update(fresh)
        Path(cache_file).write_text(json.dumps(cached, indent=1, sort_keys=True))
    return out


def check_queries(names, out_dir, data_dir, cache_file):
    """{query: reason or None}, the queries whose oracle is infeasible, and
    the actual rows of one query kept for the self-check."""
    oracle_sql = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    expected = oracle_digests(names, oracle_sql, data_dir, cache_file)
    con = _connect()
    results, unchecked, sample = {}, [], None
    for n in names:
        if n not in expected:
            results[n] = "no oracle SQL declared"
            continue
        if expected[n] is None:
            unchecked.append(n)
            continue
        rdir = Path(out_dir) / "results" / n
        if not list(rdir.glob("*.parquet")):
            results[n] = "no output written"
            continue
        cols, rows = table_rows(con.sql(f"SELECT * FROM '{rdir}/*.parquet'"))
        results[n] = mismatch(digest(cols, rows), expected[n])
        if sample is None and rows:
            sample = (cols, rows)
    return results, unchecked, sample


# ---------------------------------------------------------------- nightly

def _artifact(prefix, fname, day):
    stamp = day.replace("-", "")
    with bz2.open(Path(prefix) / f"{fname}.{stamp}.bz2", "rt") as f:
        return f.read()


def _catalog(con, day):
    amo = day["amo"]
    con.sql(f"""CREATE OR REPLACE VIEW amo AS SELECT * FROM read_json('{amo}/page-*.jsonl',
        format='newline_delimited', columns={{
          'guid': 'VARCHAR',
          'current_version': 'STRUCT(files STRUCT(id BIGINT, platform VARCHAR,
                                status VARCHAR, is_webextension BOOLEAN)[])',
          'ratings': 'STRUCT(average DOUBLE)',
          'promoted': 'STRUCT(category VARCHAR)'}})""")
    con.sql(f"CREATE OR REPLACE VIEW versions AS SELECT * FROM '{day['versions']}'")
    con.sql("""CREATE OR REPLACE VIEW dump AS SELECT a.*, v.first_create_date
        FROM amo a JOIN versions v USING (guid) WHERE v.first_create_date IS NOT NULL""")


def nightly_expected(manifest):
    """Per day: the guid sets of the four keyed artifacts, the shortlist
    list, the ranking counts; for the last day the KV key set."""
    con = _connect()
    con.sql(f"CREATE VIEW addons AS SELECT * FROM '{manifest['addons']}/*.parquet'")
    con.sql(f"CREATE VIEW clients AS SELECT * FROM '{manifest['clients']}/*.parquet'")
    con.sql(f"CREATE VIEW deletions AS SELECT * FROM '{manifest['deletions']}'")
    exp = {}
    for day in manifest["days"]:
        d = day["date"]
        _catalog(con, day)
        white = f"""guid <> '{PIONEER}' AND len(current_version.files) > 0
            AND current_version.files[1].is_webextension AND ratings.average >= 3.0
            AND CAST(substr(first_create_date, 1, 10) AS DATE)
                <= DATE '{d}' - INTERVAL 60 DAY"""
        feat = "promoted.category = 'recommended'"
        guids = lambda where: {r[0] for r in con.sql(f"SELECT guid FROM dump WHERE {where}").fetchall()}
        exp[d] = {
            "extended_addons_database.json": guids("TRUE"),
            "whitelist_addons_database.json": guids(white),
            "featured_addons_database.json": guids(feat),
            "featured_whitelist_addons.json": guids(f"({white}) AND {feat}"),
            "only_guids_top_200.json": [r[0] for r in con.sql(f"""SELECT DISTINCT guid
                FROM '{day['editorial']}' WHERE guid IS NOT NULL AND guid NOT IN ('null', '')
                ORDER BY guid""").fetchall()],
            "guid_install_ranking.json": dict(con.sql(f"""SELECT addon_id, count(client_id)
                FROM addons WHERE submission_date = DATE '{d}' GROUP BY addon_id""").fetchall()),
        }
    last = manifest["days"][-1]
    d = last["date"]
    cutoff = last["as_of_micros"] - 90 * 86400 * 1000000
    survivors = con.sql(f"""SELECT client_id FROM clients
        WHERE submission_date = DATE '{d}' AND len(active_addons) > 0
          AND list_max(list_transform(active_addons, a -> a.update_day)) * 86400000000 >= {cutoff}
          AND client_id NOT IN (SELECT client_id FROM deletions
              WHERE CAST(submission_timestamp AS DATE)
                    BETWEEN DATE '{d}' - INTERVAL 28 DAY AND DATE '{d}')""").fetchall()
    exp["kv_keys"] = {hashlib.sha256(r[0].encode()).hexdigest() for r in survivors}
    return exp


def nightly_actual(manifest, out_dir):
    prefix = Path(out_dir) / "artifacts"
    act = {}
    for day in manifest["days"]:
        d = day["date"]
        got = {}
        for fname in ("extended_addons_database.json", "whitelist_addons_database.json",
                      "featured_addons_database.json", "featured_whitelist_addons.json"):
            got[fname] = set(json.loads(_artifact(prefix, fname, d)))
        body = _artifact(prefix, "only_guids_top_200.json", d)
        got["only_guids_top_200.json"] = [json.loads(l)["guid"] for l in body.splitlines() if l]
        got["guid_install_ranking.json"] = {
            k: v["install_count"]
            for k, v in json.loads(_artifact(prefix, "guid_install_ranking.json", d)).items()}
        act[d] = got
    kv = Path(out_dir) / "kv"
    con = _connect()
    act["kv_keys"] = {r[0] for r in con.sql(f"SELECT key FROM '{kv}/*.parquet'").fetchall()}
    act["kv_json_bytes"] = sum(
        len(zlib.decompress(r[0]))
        for r in con.sql(f"SELECT payload FROM '{kv}/*.parquet'").fetchall())
    return act


# Which nightly step produced each checked output: a wrong output counts
# against that step's operation.
OWNER = {
    "extended_addons_database.json": "jobs.amo_dump",
    "whitelist_addons_database.json": "jobs.amo_whitelist",
    "featured_addons_database.json": "jobs.amo_whitelist",
    "featured_whitelist_addons.json": "jobs.amo_whitelist",
    "only_guids_top_200.json": "jobs.update_whitelist",
    "guid_install_ranking.json": "jobs.guid_ranking",
}


def check_nightly(manifest, out_dir, avro_check):
    """{operation name: reason or None} for every checked output."""
    results = {}
    try:
        exp, act = nightly_expected(manifest), nightly_actual(manifest, out_dir)
    except Exception as e:  # a missing artifact fails the whole pass
        return {"nightly outputs": f"unreadable: {str(e).splitlines()[0][:200]}"}, None, None
    for day in manifest["days"]:
        d = day["date"]
        for fname, owner in OWNER.items():
            key = f"{owner} {d}"
            reason = mismatch(act[d][fname], exp[d][fname])
            if reason:
                results[key] = f"{fname}: {reason}"
            else:
                results.setdefault(key, None)
        a = avro_check.get(d, {})
        results[f"io.avro_read {d}"] = None if a.get("equal") else f"avro round trip: {a}"
    last = manifest["days"][-1]["date"]
    results[f"io.kv_expire {last}"] = mismatch(act["kv_keys"], exp["kv_keys"])
    first = manifest["days"][0]["date"]
    sample = (exp[first]["whitelist_addons_database.json"],
              act[first]["whitelist_addons_database.json"])
    return results, sample, act["kv_json_bytes"]


# ---------------------------------------------------------------- self-check

def self_check(kind, sample):
    """Plant a wrong expectation next to a real output and demand that
    mismatch() reports it. Returns None when caught."""
    if sample is None:
        return "nothing to plant against"
    if kind == "queries":
        cols, rows = sample
        real = digest(cols, rows)
        planted = digest(cols, rows[:-1] + [tuple("planted" for _ in cols)])
        caught = mismatch(real, planted) is not None and mismatch(real, real) is None
    else:
        expected, actual = sample
        planted = set(expected) - {min(expected)} if expected else {"planted@graft.test"}
        caught = mismatch(actual, planted) is not None
    return None if caught else "planted wrong expectation was NOT caught"


def refresh_expected(data_dir, oracle_sql_file):
    """Rebuild oracle_expected.json for every query in an oracle_sql.json
    (python3 perfbench/gate.py <data dir> <oracle_sql.json>)."""
    sql = json.loads(Path(oracle_sql_file).read_text())
    con = _oracle_db(data_dir)
    out = json.loads(EXPECTED_FILE.read_text()) if EXPECTED_FILE.exists() else {}
    for name in sorted(sql):
        k = _sql_key(sql[name])
        if k in out:
            continue
        try:
            out[k] = dict(digest(*table_rows(con.sql(sql[name]))), query=name)
        except Exception as e:
            print(f"{name}: {str(e).splitlines()[0][:160]}")
            continue
        EXPECTED_FILE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
        print(f"{name}: {out[k]['rows']} rows", flush=True)


if __name__ == "__main__":
    import sys
    refresh_expected(sys.argv[1], sys.argv[2])
