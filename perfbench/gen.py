"""Seeded bc2adls-shaped input generator for the nightly ETL benchmark.

Writes one staged CSV drop per folder per night under ``<work>/stage`` and a
``plan.json`` describing it. Night 0 is the first-sight export; nights 1..N
carry updates, inserts and ZeroGuid tombstones. Every file gets an explicit
modification time (night n lands at T0 + n days), so no run ever sleeps.

The payload comes from the TPC-H-shaped tables in ``--data`` (lineitem ->
SalesLine, orders -> SalesHeader). Each table carries
Dynamics-suffixed headers (``No-6``), ``$Company``, one pair of headers that
normalize to the same name, and the five system columns. ``systemid`` values
are the generator's own (an md5 of seed, folder and row), so they are unique.

The generator keeps the state it sent (the latest version of each live key)
in DuckDB, so its running row count (base + inserts - deletes) is a second,
independent row count next to the checker's fold over the files.

Usage: python3 perfbench/gen.py --data DIR --work DIR --inputs large|many_folders
           --seed N --nights N
"""

import argparse
import json
import os

import duckdb

T0 = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400
ZERO_GUID = "{00000000-0000-0000-0000-000000000000}"
DRIFT_NIGHT = 1
DRIFT_HEADER, DRIFT_COL = "TaxAreaCode-85", "taxareacode"

# (raw header, state column, normalized name or None when dropped, kind)
SYSTEM = [
    ("SystemId-2000000000", "systemid", "systemid", "str"),
    ("SystemCreatedAt-2000000001", "systemcreatedat", "systemcreatedat", "ts"),
    ("SystemCreatedBy-2000000002", "systemcreatedby", "systemcreatedby", "str"),
    ("SystemModifiedAt-2000000003", "systemmodifiedat", "systemmodifiedat", "ts"),
    ("SystemModifiedBy-2000000004", "systemmodifiedby", "systemmodifiedby", "str"),
]
EXTRA = [
    ("Comment-90", "dup_a", None, "str"),
    ("Comment-91", "dup_b", None, "str"),
    ("$Company", "company", "_company", "str"),
]

# Per source table: the TPC-H parquet, its key column, and
# (raw header, state column, source expression, kind). `upd_int` and
# `upd_dbl` are the payload columns every update changes (plus the note);
# `upd_int` is also the column the consumer aggregate sums.
SHAPES = {
    "lines": dict(
        src="lineitem", key="l_orderkey",
        cols=[("DocumentNo-3", "documentno",
               "'SO' || lpad(CAST(l_orderkey AS VARCHAR), 8, '0')", "str"),
              ("LineNo-4", "lineno", "l_linenumber", "int"),
              ("No-6", "no", "l_partkey", "int"),
              ("Quantity-15", "quantity", "l_quantity", "dbl"),
              ("Amount-29", "amount", "l_extendedprice", "dbl"),
              ("LineDiscountPct-27", "linediscountpct", "l_discount", "dbl"),
              ("VATPct-25", "vatpct", "l_tax", "dbl"),
              ("ReturnReasonCode-6608", "returnreasoncode", "l_returnflag", "str"),
              ("ShipmentDate-10", "shipmentdate", "strftime(l_shipdate, '%Y-%m-%d')", "date")],
        upd_int="no", upd_dbl="quantity"),
    "header": dict(
        src="orders", key="o_orderkey",
        cols=[("No-3", "no", "'SO' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0')", "str"),
              ("SelltoCustomerNo-2", "selltocustomerno", "o_custkey", "int"),
              ("Status-120", "status", "o_orderstatus", "str"),
              ("AmountIncludingVAT-61", "amountincludingvat", "o_totalprice", "dbl"),
              ("OrderDate-19", "orderdate", "strftime(o_orderdate, '%Y-%m-%d')", "date"),
              ("ShippingAdvice-5790", "shippingadvice", "o_orderpriority", "str")],
        upd_int="selltocustomerno", upd_dbl="amountincludingvat"),
}
NOTE = ("Description-11", "description", "description", "note")

# Each input set: folders as (folder name, shape, key range [lo, hi) of the
# shape's source key, base file count), plus each night's change as the
# (update, tombstone, insert) shares of the live keys, in parts per million.
INPUTS = {
    "large": dict(
        folders=[("SalesLine-37", "lines", (0, 7500), 2),
                 ("SalesHeader-36", "header", (0, 7500), 1)],
        ppm=(10000, 2000, 2000)),
    "many_folders": dict(
        folders=[(f"ServiceLine-{5900 + i}", "header",
                  (100000 + 1000 * i, 101000 + 1000 * i), 1) for i in range(4)],
        ppm=(80000, 10000, 10000)),
}


def guid(expr):
    """A braced, upper-case GUID built from md5(expr)."""
    h = f"upper(md5({expr}))"
    return (f"'{{' || substr({h},1,8) || '-' || substr({h},9,4) || '-' || "
            f"substr({h},13,4) || '-' || substr({h},17,4) || '-' || "
            f"substr({h},21,12) || '}}'")


def iso(epoch_expr):
    return f"strftime(to_timestamp({epoch_expr}), '%Y-%m-%dT%H:%M:%SZ')"


def note(salt_expr, multiline_expr):
    """Free text; a multi-line (quoted, embedded newline) value when
    `multiline_expr` holds, so the CSV reader's multiLine path is used."""
    base = f"'Note ' || substr(md5({salt_expr}), 1, 10)"
    return (f"CASE WHEN {multiline_expr} THEN {base} || chr(10) || "
            f"'continued, ' || substr(md5({salt_expr} || 'x'), 1, 6) "
            f"ELSE {base} END")


def columns(shape):
    """Output columns in header order: (raw, state col, normalized, kind)."""
    spec = SHAPES[shape]
    payload = [(raw, c, c, kind) for raw, c, _, kind in spec["cols"]]
    return SYSTEM[:1] + payload + [NOTE] + EXTRA[:2] + SYSTEM[1:] + EXTRA[2:]


def write_csv(con, select_sql, path, mtime, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con.execute(f"COPY ({select_sql}) TO '{path}' (HEADER, DELIMITER ',')")
    os.utime(path, (mtime, mtime))
    return [os.path.basename(path), rows, os.path.getsize(path)]


def select_list(cols, with_drift):
    out = [f'{c} AS "{raw}"' for raw, c, _, _ in cols]
    if with_drift:
        out.append(f'{DRIFT_COL} AS "{DRIFT_HEADER}"')
    return ", ".join(out)


def generate(data, work, inputs, seed, nights):
    wl = INPUTS[inputs]
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, min(4, os.cpu_count() or 1)))
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET autoload_known_extensions = false")
    stage = os.path.join(work, "stage")
    plan = dict(seed=seed, inputs=inputs, t0=T0, day=DAY, nights=nights,
                drift=dict(night=DRIFT_NIGHT, folder=wl["folders"][0][0],
                           column=DRIFT_COL, header=DRIFT_HEADER),
                folders=[], files={}, gen_counts={}, batch_rows={}, lookups={})
    for fi, (folder, shape, (lo, hi), parts) in enumerate(wl["folders"]):
        spec = SHAPES[shape]
        cols = columns(shape)
        st = f"st{fi}"
        salt = f"'{seed}:{folder}:'"
        payload = ", ".join(f"{expr} AS {c}" for _, c, expr, _ in spec["cols"])
        src = os.path.join(data, spec["src"] + ".parquet")
        # base rows: the key range of the source, in a stable order
        con.execute(f"""
            CREATE TABLE {st}_src AS
            SELECT row_number() OVER (ORDER BY {spec['key']}, {payload_order(shape)}) - 1 AS idx,
                   {payload}
            FROM read_parquet('{src}')
            WHERE {spec['key']} >= {lo} AND {spec['key']} < {hi}""")
        con.execute(f"""
            CREATE TABLE {st} AS SELECT
              {guid(f"{salt} || idx")} AS systemid,
              {iso(f"{T0} - {DAY} * (30 + idx % 300) + idx % 3571")} AS systemcreatedat,
              {guid("'user' || (idx % 7)")} AS systemcreatedby,
              {iso(f"{T0} - {DAY} * (1 + idx % 29) + idx % 3593")} AS systemmodifiedat,
              {guid("'user' || (idx % 5)")} AS systemmodifiedby,
              * EXCLUDE (idx),
              {note(f"{salt} || idx", "idx % 97 = 0")} AS description,
              'A ' || substr(md5({salt} || idx || 'a'), 1, 6) AS dup_a,
              'B ' || substr(md5({salt} || idx || 'b'), 1, 6) AS dup_b,
              'CRONUS' AS company,
              CAST(NULL AS VARCHAR) AS {DRIFT_COL}
            FROM {st}_src""")
        n_keys = con.execute(f"SELECT count(DISTINCT systemid), count(*) FROM {st}").fetchone()
        assert n_keys[0] == n_keys[1], "generated systemids collide"
        # night 0: the export, plus 20 stale versions (an older modifiedat)
        # and 10 tombstones, so first sight exercises latest-wins and deletes
        con.execute(f"""
            CREATE TEMP TABLE rk AS SELECT *, row_number() OVER
              (ORDER BY md5(systemid || '|{seed}|0')) AS rn FROM {st}""")
        stale = f"""SELECT * EXCLUDE (rn) REPLACE (
              {iso(f"{T0} - {DAY} * 40 + rn")} AS systemmodifiedat,
              {spec['upd_dbl']} + 7 AS {spec['upd_dbl']})
            FROM rk WHERE rn <= 20"""
        tomb0 = tombstones("rk", "rn > 20 AND rn <= 30")
        body = f"SELECT * FROM {st} UNION ALL {stale} UNION ALL {tomb0}"
        files0 = []
        for p in range(parts):
            sel = (f"SELECT {select_list(cols, False)} FROM ({body}) "
                   f"WHERE hash(systemid, systemmodifiedat) % {parts} = {p} "
                   f"ORDER BY md5(systemid || coalesce(systemmodifiedat, ''))")
            rows = con.execute(f"SELECT count(*) FROM ({body}) WHERE "
                               f"hash(systemid, systemmodifiedat) % {parts} = {p}").fetchone()[0]
            files0.append(write_csv(con, sel, os.path.join(
                stage, "0000", folder, f"export-0000-{p}.csv"), T0, rows))
        con.execute(f"DELETE FROM {st} WHERE systemid IN (SELECT systemid FROM rk WHERE rn > 20 AND rn <= 30)")
        con.execute("DROP TABLE rk")
        plan["folders"].append(dict(
            folder=folder, shape=shape,
            columns=[[raw, norm, kind] for raw, _, norm, kind in cols],
            sum_col=spec["upd_int"]))
        add_night(plan, 0, folder, files0, con, st, sum(f[1] for f in files0), [])
        for n in range(1, nights + 1):
            night_changes(con, plan, st, folder, shape, cols, seed, n, wl["ppm"], stage)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f, indent=1, sort_keys=True)
    con.close()
    return plan


def payload_order(shape):
    return ", ".join(expr for _, _, expr, _ in SHAPES[shape]["cols"])


def tombstones(rel, where, keep_rn=False):
    """The bc2adls delete shape: NULL create/modify times, ZeroGuid by-cols."""
    return f"""SELECT * {"" if keep_rn else "EXCLUDE (rn)"} REPLACE (
          CAST(NULL AS VARCHAR) AS systemcreatedat, '{ZERO_GUID}' AS systemcreatedby,
          CAST(NULL AS VARCHAR) AS systemmodifiedat, '{ZERO_GUID}' AS systemmodifiedby)
        FROM {rel} WHERE {where}"""


def add_night(plan, n, folder, files, con, st, batch_rows, lookups):
    key = str(n)
    plan["files"].setdefault(key, {})[folder] = files
    plan["batch_rows"].setdefault(key, {})[folder] = batch_rows
    plan["gen_counts"].setdefault(key, {})[folder] = \
        con.execute(f"SELECT count(*) FROM {st}").fetchone()[0]
    plan["lookups"].setdefault(key, {})[folder] = lookups


def night_changes(con, plan, st, folder, shape, cols, seed, n, ppm, stage):
    """One night's drop: a seeded hash of each live key, in parts per million,
    picks the updated keys [0, u), the tombstoned keys [u, u+d) and the rows
    that template the inserts [u+d, u+d+i)."""
    spec = SHAPES[shape]
    u, d, i = ppm
    drift = n == DRIFT_NIGHT and folder == plan["drift"]["folder"]
    salt = f"'{seed}:{folder}:{n}:'"
    mod_at = iso(f"{T0} + {DAY} * {n} - 3600 + rn % 3000")
    con.execute(f"""
        CREATE TEMP TABLE rk AS SELECT * FROM (SELECT *, CAST(md5_number_lower(
          systemid || '|{seed}|{n}') % 1000000 AS BIGINT) AS rn FROM {st})
        WHERE rn < {u + d + i}""")
    drift_val = "'TAX' || (rn % 9)" if drift else "CAST(NULL AS VARCHAR)"
    con.execute(f"""
        CREATE TEMP TABLE up AS SELECT * REPLACE (
          {spec['upd_int']} + 1 AS {spec['upd_int']},
          {spec['upd_dbl']} + 1 AS {spec['upd_dbl']},
          {note(f"{salt} || systemid", "rn % 50 = 1")} AS description,
          {mod_at} AS systemmodifiedat,
          {guid(f"'user' || (rn % 5)")} AS systemmodifiedby,
          {drift_val} AS {DRIFT_COL})
        FROM rk WHERE rn < {u}""")
    con.execute("CREATE TEMP TABLE tb AS "
                + tombstones("rk", f"rn >= {u} AND rn < {u + d}", True))
    con.execute(f"""
        CREATE TEMP TABLE ins AS SELECT * REPLACE (
          {guid(f"{salt} || 'ins' || systemid")} AS systemid,
          {mod_at} AS systemcreatedat, {mod_at} AS systemmodifiedat,
          {note(f"{salt} || 'i' || systemid", "false")} AS description,
          {drift_val} AS {DRIFT_COL})
        FROM rk WHERE rn >= {u + d}""")
    lookups = [con.execute(f"SELECT systemid FROM {t} ORDER BY rn, systemid "
                           "LIMIT 1").fetchone()[0] for t in ("up", "tb")]
    rows = con.execute("SELECT count(*) FROM rk").fetchone()[0]
    body = "SELECT * FROM up UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM tb"
    sel = (f"SELECT {select_list(cols, drift)} FROM ({body}) "
           f"ORDER BY md5(systemid || '{n}')")
    files = [write_csv(con, sel, os.path.join(
        stage, f"{n:04d}", folder, f"export-{n:04d}-0.csv"), T0 + DAY * n, rows)]
    con.execute(f"DELETE FROM {st} WHERE systemid IN "
                f"(SELECT systemid FROM rk WHERE rn < {u + d})")
    con.execute(f"INSERT INTO {st} SELECT * EXCLUDE (rn) FROM up")
    con.execute(f"INSERT INTO {st} SELECT * EXCLUDE (rn) FROM ins")
    con.execute("DROP TABLE rk; DROP TABLE up; DROP TABLE tb; DROP TABLE ins")
    add_night(plan, n, folder, files, con, st, rows, lookups)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--nights", type=int, required=True)
    a = ap.parse_args()
    generate(a.data, a.work, a.inputs, a.seed, a.nights)


if __name__ == "__main__":
    main()
