"""Checks a benchmark run's warehouse against a fold computed apart from it.

The fold reads the landed CSV drops back with DuckDB and applies, night by
night, the bc2adls contract: union the night's rows onto the state, drop
every key that has a ZeroGuid tombstone, keep the latest version per key by
(systemmodifiedat, systemid). Column names follow the reference's rules:
strip ``-<digits>``, lower-case, drop every name that occurs twice, rename
``$company`` to ``_company``; temporal values come out as
``yyyy-MM-dd HH:mm:ss`` strings.

Compared with it:
  - every night's row count per table, and the generator's running count;
  - the final table, key by key: version stamp plus a payload checksum
    (``extracted_at`` excluded), and its column set;
  - every consumer read (the previous night's state for time travel);
  - one row per key, no key whose last event was a tombstone, ``_company``
    present and ``$company`` absent, the saved watermark equal to the newest
    mtime landed, and FileSystem bytes written >= the directory-walk bytes.
Each run also corrupts a copy of one table (one row dropped, one stale
version kept) and requires the key-by-key comparison to report both.
"""

import glob
import os
import re
from datetime import datetime, timezone

import duckdb

ZERO_GUID = "{00000000-0000-0000-0000-000000000000}"


def normalize(headers):
    """Raw CSV headers -> {raw: warehouse name}, dropping duplicated names."""
    names = {h: re.sub(r"-\d+", "", h).lower() for h in headers}
    counts = {}
    for n in names.values():
        counts[n] = counts.get(n, 0) + 1
    return {h: ("_company" if n == "$company" else n)
            for h, n in names.items() if counts[n] == 1}


def q(name):
    return '"' + name.replace('"', '""') + '"'


def canon(name, kind, typed):
    """A column as canonical text. `typed` is the warehouse side (typed
    values); otherwise the CSV text."""
    c = q(name)
    if kind == "int":
        return f"CAST(CAST({c} AS DOUBLE) AS BIGINT)::VARCHAR"
    if kind == "dbl":
        return f"printf('%.4f', CAST({c} AS DOUBLE))"
    if typed or kind in ("str", "note"):
        return f"CAST({c} AS VARCHAR)"
    if kind == "ts":
        return f"replace(replace({c}, 'T', ' '), 'Z', '')"
    if kind == "date":
        return f"{c} || ' 00:00:00'"
    raise ValueError(kind)


def fingerprint(rel, kinds, typed):
    """(systemid, m = version stamp, h = payload checksum) per row."""
    payload = [canon(n, k, typed) for n, k in sorted(kinds.items())
               if n not in ("systemid", "systemmodifiedat")]
    h = "md5(" + " || '|' || ".join(f"coalesce({p}, '<null>')" for p in payload) + ")"
    return (f"SELECT systemid, {canon('systemmodifiedat', 'ts', typed)} AS m, {h} AS h "
            f"FROM {rel}")


def mismatches(con, export_rel, oracle_rel, kinds):
    return con.execute(f"""
        SELECT count(*) FROM ({fingerprint(export_rel, kinds, True)}) w
        FULL OUTER JOIN ({fingerprint(oracle_rel, kinds, False)}) o USING (systemid)
        WHERE w.h IS DISTINCT FROM o.h OR w.m IS DISTINCT FROM o.m""").fetchone()[0]


class Fold:
    """The oracle state of one folder, advanced one night at a time."""

    def __init__(self, con, work, plan, fi, folder):
        self.con, self.work, self.plan, self.folder = con, work, plan, folder
        self.rel = f"oracle{fi}"
        self.kinds = {}
        self.dead = f"dead{fi}"
        self.started = False
        spec = next(f for f in plan["folders"] if f["folder"] == folder)
        self.kind_of = {raw: kind for raw, _, kind in spec["columns"]}
        self.kind_of[plan["drift"]["header"]] = "str"
        self.sum_col = spec["sum_col"]

    def advance(self, n):
        files = [os.path.join(self.work, "source", self.folder, f[0])
                 for f in self.plan["files"][str(n)][self.folder]]
        self.con.execute(f"""CREATE OR REPLACE TEMP TABLE raw AS SELECT * FROM
            read_csv({files!r}, header=true, all_varchar=true, quote='"', delim=',',
                     union_by_name=true)""")
        headers = [r[0] for r in self.con.execute("DESCRIBE raw").fetchall()]
        names = normalize(headers)
        sel = ", ".join(f"{q(raw)} AS {q(name)}" for raw, name in names.items())
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE chg AS SELECT {sel} FROM raw")
        tomb = (f"systemcreatedat IS NULL AND systemcreatedby = '{ZERO_GUID}' AND "
                f"systemmodifiedat IS NULL AND systemmodifiedby = '{ZERO_GUID}'")
        if not self.started:
            self.con.execute(f"CREATE TABLE {self.rel} AS SELECT * FROM chg LIMIT 0")
            self.con.execute(f"CREATE TABLE {self.dead} (systemid VARCHAR)")
            self.started = True
        for raw, name in names.items():
            if name not in self.kinds:
                self.kinds[name] = self.kind_of[raw]
                if n > 0:
                    self.con.execute(f"ALTER TABLE {self.rel} ADD COLUMN {q(name)} VARCHAR")
        # latest version per touched key, over its stored row and the night's
        self.con.execute(f"""
            CREATE OR REPLACE TEMP TABLE fresh AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY systemid ORDER BY
                replace(replace(systemmodifiedat, 'T', ' '), 'Z', '') DESC NULLS LAST,
                systemid DESC) AS rn
              FROM (SELECT * FROM {self.rel} WHERE systemid IN (SELECT systemid FROM chg)
                    UNION ALL BY NAME SELECT * FROM chg) u
              WHERE systemid NOT IN (SELECT systemid FROM chg WHERE {tomb}))
            WHERE rn = 1""")
        self.con.execute(f"DELETE FROM {self.rel} WHERE systemid IN (SELECT systemid FROM chg)")
        self.con.execute(f"INSERT INTO {self.rel} BY NAME SELECT * FROM fresh")
        # keys whose last event is a tombstone
        self.con.execute(f"DELETE FROM {self.dead} WHERE systemid IN (SELECT systemid FROM chg)")
        self.con.execute(f"INSERT INTO {self.dead} SELECT DISTINCT systemid FROM chg WHERE {tomb}")

    def count(self):
        return self.con.execute(f"SELECT count(*) FROM {self.rel}").fetchone()[0]

    def lookup(self, keys):
        return [list(r) for r in self.con.execute(f"""
            SELECT systemid, {canon('systemmodifiedat', 'ts', False)},
                   {canon(self.sum_col, 'int', False)}::BIGINT
            FROM {self.rel} WHERE list_contains(?, systemid)
            ORDER BY systemid""", [keys.split(",")]).fetchall()]

    def aggregate(self):
        return list(self.con.execute(f"""
            SELECT count(*), sum({canon(self.sum_col, 'int', False)}::BIGINT),
                   max({canon('systemmodifiedat', 'ts', False)}) FROM {self.rel}""").fetchone())


def check(work, plan, res):
    """Returns {"problems": [...]}; an empty list means the run is correct."""
    problems = []
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, min(4, os.cpu_count() or 1)))
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    nights = res["nights"]
    last = nights[-1]["night"]
    folds = {f["folder"]: Fold(con, work, plan, i, f["folder"])
             for i, f in enumerate(plan["folders"])}
    aggs = {}
    for x in nights:
        n = x["night"]
        for folder, fold in folds.items():
            fold.advance(n)
            got, want, gen = x["loads"].get(folder), fold.count(), \
                plan["gen_counts"][str(n)][folder]
            if got is not None and got >= 0 and (got != want or want != gen):
                problems.append(f"night {n} {folder}: {got} rows loaded, "
                                f"fold has {want}, generator {gen}")
            aggs[(n, folder)] = fold.aggregate()
        for r in x["reads"]:
            if not r["ok"]:
                continue
            fold = folds[r["folder"]]
            if r["kind"] == "lookup":
                want = fold.lookup(r["key"])
            elif r["kind"] == "aggregate":
                want = aggs[(n, r["folder"])]
            else:
                want = aggs[(n - 1, r["folder"])]
            if r["value"] != want:
                problems.append(f"night {n} {r['kind']} {r['folder']} {r['key']}: "
                                f"read {r['value']}, fold has {want}")
        if x["fs_bytes_written"] < x["write_bytes"]:
            problems.append(f"night {n}: FileSystem wrote {x['fs_bytes_written']} bytes, "
                            f"fewer than the {x['write_bytes']} new under the warehouse")
    for folder, fold in folds.items():
        table = res["tables"][folder]["table"]
        cols = res["tables"][folder]["columns"]
        if "_company" not in cols or "$company" in cols or "extracted_at" not in cols:
            problems.append(f"{table}: columns {cols}")
        if sorted(c for c in cols if c != "extracted_at") != sorted(fold.kinds):
            problems.append(f"{table}: columns {sorted(cols)}, fold has {sorted(fold.kinds)}")
            continue
        con.execute(f"CREATE OR REPLACE VIEW wh AS SELECT * FROM "
                    f"read_parquet('{os.path.join(work, 'export', table)}/*.parquet')")
        rows, keys = con.execute("SELECT count(*), count(DISTINCT systemid) FROM wh").fetchone()
        if rows != keys:
            problems.append(f"{table}: {rows} rows for {keys} keys")
        dead = con.execute(f"SELECT count(*) FROM wh JOIN {fold.dead} "
                           "USING (systemid)").fetchone()[0]
        if dead:
            problems.append(f"{table}: {dead} keys whose last event was a tombstone")
        bad = mismatches(con, "wh", fold.rel, fold.kinds)
        if bad:
            problems.append(f"{table}: {bad} keys differ from the fold")
    problems += corrupted_copy_is_caught(con, folds)
    problems += watermark_problems(con, work, plan, last)
    con.close()
    return {"problems": problems}


def corrupted_copy_is_caught(con, folds):
    """The comparison must see one dropped row and one stale version."""
    fold = list(folds.values())[-1]  # `wh` is the last table checked
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE bad AS SELECT * FROM wh
        WHERE systemid <> (SELECT min(systemid) FROM wh)""")
    con.execute(f"""
        UPDATE bad SET systemmodifiedat = '2000-01-01 00:00:00',
               {q(fold.sum_col)} = {q(fold.sum_col)} - 1
        WHERE systemid = (SELECT max(systemid) FROM bad)""")
    got = mismatches(con, "bad", fold.rel, fold.kinds)
    return [] if got == 2 else [f"the checker saw {got} of 2 planted faults"]


def watermark_problems(con, work, plan, last):
    files = glob.glob(os.path.join(work, "state", "watermarks", "*.csv"))
    if not files:
        return ["no watermark state was saved"]
    rows = con.execute(f"SELECT folder, CAST(max_created_at AS VARCHAR) FROM "
                       f"read_csv({files!r}, header=true, all_varchar=true)").fetchall()
    want = plan["t0"] + plan["day"] * last
    got = {f: datetime.fromisoformat(t.replace("Z", "+00:00")) for f, t in rows}
    problems = []
    for f in plan["folders"]:
        ts = got.get(f["folder"])
        if ts is None or ts.replace(tzinfo=ts.tzinfo or timezone.utc).timestamp() != want:
            problems.append(f"watermark of {f['folder']} is {ts}, newest landed mtime "
                            f"is {datetime.fromtimestamp(want, timezone.utc)}")
    return problems
