"""Independent output checks for the finance-pipeline benchmark.

Everything here is recomputed in DuckDB from the generated ledger and
history; none of it reuses the program's own SQL twins. Runs after the JVM
has exited, outside every timed window. `check()` returns how many
operations failed a check, whether the checks themselves could run, and one
note per failed check.
"""
import json

import duckdb

import gen

# FIFO semantics per customer: the k-th earned row, in (timestamp, id) order,
# is redeemed by the k-th spent-or-expired row in the same order
EXPECTED_PAIRS_SQL = """
  WITH e AS (SELECT transaction_id, customer_id, row_number() OVER
               (PARTITION BY customer_id ORDER BY ts, transaction_id) AS k
             FROM txns WHERE transaction_type = 'earned'),
       s AS (SELECT transaction_id, customer_id, row_number() OVER
               (PARTITION BY customer_id ORDER BY ts, transaction_id) AS k
             FROM txns WHERE transaction_type IN ('spent', 'expired'))
  SELECT e.transaction_id, s.transaction_id AS redeem_id
  FROM e LEFT JOIN s USING (customer_id, k)
"""

def layer_unit(name):
    if name.endswith(("_ms", "_ms_p50")):
        return "ms"
    if name.endswith("_s") or name == "analytics.s":
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("rows"):
        return "rows"
    return "ratio" if name.endswith("skew") else "count"


def ledger(con, data):
    con.execute("CREATE TABLE txns AS " + gen.TXNS_SQL.format(events=f"{data}/events.parquet"))
    con.execute("CREATE TABLE expected AS " + EXPECTED_PAIRS_SQL)


def matched_ledger_checks(con, path):
    """FIFO pairing, redeemer use and row conservation for a matched ledger
    (TRANS_ID, TCTYPE, CREATEDAT, CUSTOMERID, AMOUNT, REDEEMID)."""
    con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM read_parquet('{path}/*.parquet')")
    checks = {
        "row count not conserved":
            "SELECT (SELECT count(*) FROM got) - (SELECT count(*) FROM txns)",
        "rows missing or altered": """
            SELECT count(*) FROM txns t LEFT JOIN got g ON g.TRANS_ID = t.transaction_id
            WHERE g.TRANS_ID IS NULL OR g.TCTYPE <> t.transaction_type
               OR g.CUSTOMERID <> t.customer_id OR g.AMOUNT <> t.amount
               OR g.CREATEDAT <> t.ts""",
        "REDEEMID set on spent/expired rows":
            "SELECT count(*) FROM got WHERE TCTYPE <> 'earned' AND REDEEMID IS NOT NULL",
        "redeemer used more than once":
            "SELECT count(*) FROM (SELECT REDEEMID FROM got WHERE REDEEMID IS NOT NULL "
            "GROUP BY 1 HAVING count(*) > 1)",
        "earned rows not paired FIFO": """
            SELECT count(*) FROM expected x JOIN got g ON g.TRANS_ID = x.transaction_id
            WHERE g.REDEEMID IS DISTINCT FROM x.redeem_id""",
    }
    notes = []
    for what, sql in checks.items():
        n = con.execute(sql).fetchone()[0]
        if n != 0:
            notes.append(f"{what}: {n}")
    return notes


def close(a, b, tol=1e-6):
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= tol + 1e-9 * abs(float(b))


def check_daily(con, run, data):
    out = f"{run}/out"
    notes = matched_ledger_checks(con, f"{out}/tc_data_with_redemptions.parquet")
    con.execute("""CREATE TABLE bal AS SELECT customer_id,
        round(sum(amount), 2) AS current_balance,
        round(sum(amount) FILTER (WHERE transaction_type = 'earned'), 2) AS earned,
        round(coalesce(-sum(amount) FILTER (WHERE transaction_type = 'spent'), 0), 2) AS spent,
        round(coalesce(-sum(amount) FILTER (WHERE transaction_type = 'expired'), 0), 2) AS expired
        FROM txns GROUP BY 1""")
    con.execute(f"""CREATE VIEW cur AS SELECT * FROM read_csv('{out}/customer_current_balances.csv/*.csv',
        header = true, types = {{'customer_id': 'VARCHAR'}})""")
    bad = con.execute("""SELECT
        (SELECT count(*) FROM cur) - (SELECT count(*) FROM bal),
        (SELECT count(*) FROM bal b LEFT JOIN cur c USING (customer_id)
         WHERE c.customer_id IS NULL OR abs(c.current_balance - b.current_balance) > 0.005
            OR abs(c.cumulative_earned - coalesce(b.earned, 0)) > 0.005
            OR abs(c.cumulative_spent - b.spent) > 0.005
            OR abs(c.cumulative_expired - b.expired) > 0.005)""").fetchone()
    if bad != (0, 0):
        notes.append(f"current balances differ from signed-amount sums: {bad}")
    con.execute(f"""CREATE VIEW hist AS SELECT * FROM read_csv('{out}/customer_balance_history.csv/*.csv',
        header = true, types = {{'customer_id': 'VARCHAR', 'transaction_id': 'VARCHAR'}})""")
    bad = con.execute(f"""SELECT (SELECT count(*) FROM hist) - (SELECT count(*) FROM txns),
        (SELECT count(*) FROM read_parquet('{data}/history.parquet') g
         LEFT JOIN hist h USING (transaction_id)
         WHERE h.transaction_id IS NULL OR h.customer_id <> g.customer_id
            OR abs(h.current_balance - g.current_balance) > 0.005
            OR abs(h.cumulative_earned - g.cumulative_earned) > 0.005
            OR abs(h.cumulative_spent - g.cumulative_spent) > 0.005
            OR abs(h.cumulative_expired - g.cumulative_expired) > 0.005)""").fetchone()
    if bad != (0, 0):
        notes.append(f"balance history differs from running sums: {bad}")

    with open(f"{out}/analytics_report.json") as f:
        rep = json.load(f)
    want = dict(zip(
        ["total_transactions", "total_customers", "total_earned", "total_spent", "total_expired"],
        con.execute("""SELECT count(*), count(DISTINCT customer_id),
            sum(amount) FILTER (WHERE transaction_type = 'earned'),
            -sum(amount) FILTER (WHERE transaction_type = 'spent'),
            -sum(amount) FILTER (WHERE transaction_type = 'expired') FROM txns""").fetchone()))
    want["matching_records_count"] = con.execute(
        "SELECT count(redeem_id) FROM expected").fetchone()[0]
    want["total_current_balance"], want["customers_with_positive_balance"] = con.execute(
        "SELECT sum(current_balance), count(*) FILTER (WHERE current_balance > 0) FROM bal").fetchone()
    if rep.get("status") != "success":
        notes.append(f"report status {rep.get('status')}")
    for k, v in want.items():
        if not close(rep.get(k), v):
            notes.append(f"report {k} = {rep.get(k)}, recomputed {v}")
    top = con.execute("""SELECT customer_id, current_balance FROM bal
                         ORDER BY current_balance DESC, customer_id LIMIT 10""").fetchall()
    got = [(t["customer_id"], t["current_balance"]) for t in rep.get("top_customers_by_balance", [])]
    if len(got) != len(top) or any(a[0] != b[0] or not close(a[1], b[1]) for a, b in zip(got, top)):
        notes.append(f"report top customers {got} differ from {top}")
    return (1 if notes else 0), notes


# ----------------------------------------------------------------- Q1-Q12

LATEST = """(SELECT * FROM history WHERE transaction_date <= CAST(? AS TIMESTAMP)
             QUALIFY row_number() OVER (PARTITION BY customer_id
               ORDER BY transaction_date DESC, transaction_id DESC) = 1)"""

QUERIES = {
    "q1": (f"""SELECT customer_id, transaction_date, current_balance FROM
               (SELECT * FROM history WHERE customer_id IN (SELECT unnest(?))
                  AND transaction_date <= CAST(? AS TIMESTAMP)
                QUALIFY row_number() OVER (PARTITION BY customer_id
                  ORDER BY transaction_date DESC, transaction_id DESC) = 1)
               ORDER BY customer_id""", lambda p: [p["customers"], p["as_of"]]),
    "q2": ("""SELECT customer_id, current_balance, cumulative_earned, cumulative_spent,
              cumulative_expired FROM current WHERE customer_id IN (SELECT unnest(?))
              ORDER BY customer_id""", lambda p: [p["customers"]]),
    "q3": ("""SELECT * FROM history WHERE customer_id = ?
              ORDER BY transaction_date, transaction_id""", lambda p: [p["customer"]]),
    "q4": ("""SELECT customer_id, date_trunc('month', transaction_date), transaction_date,
              current_balance FROM history WHERE customer_id = ?
              QUALIFY row_number() OVER (PARTITION BY date_trunc('month', transaction_date)
                ORDER BY transaction_date DESC, transaction_id DESC) = 1
              ORDER BY 2""", lambda p: [p["customer"]]),
    "q5": (f"""SELECT customer_id, transaction_date, current_balance FROM {LATEST}
               WHERE current_balance > ? ORDER BY current_balance DESC, customer_id""",
           lambda p: [p["as_of"], p["threshold"]]),
    "q6": (f"""SELECT s.customer_id, s.current_balance, e.current_balance,
               e.current_balance - s.current_balance,
               round((e.current_balance - s.current_balance)
                     / nullif(s.current_balance, 0) * 100, 2)
               FROM (SELECT * FROM {LATEST} WHERE customer_id = ?) s
               JOIN (SELECT * FROM {LATEST} WHERE customer_id = ?) e USING (customer_id)""",
           lambda p: [p["start"], p["customer"], p["end"], p["customer"]]),
    "q7": (f"""SELECT customer_id, transaction_date, current_balance, cumulative_earned,
               cumulative_spent, cumulative_expired FROM {LATEST}
               ORDER BY current_balance DESC, customer_id LIMIT 10""", lambda p: [p["as_of"]]),
    "q8": (f"""SELECT customer_id, transaction_date, current_balance FROM {LATEST}
               WHERE current_balance = 0 ORDER BY customer_id""", lambda p: [p["as_of"]]),
    "q9": (f"""SELECT count(DISTINCT customer_id), round(avg(current_balance), 2),
               round(min(current_balance), 2), round(max(current_balance), 2),
               round(sum(current_balance), 2) FROM {LATEST}""", lambda p: [p["as_of"]]),
    "q10": ("""SELECT customer_id, transaction_date, transaction_id, transaction_type,
               transaction_amount, current_balance FROM history
               WHERE customer_id = ? AND CAST(transaction_date AS DATE) = CAST(? AS DATE)
               ORDER BY transaction_date, transaction_id""", lambda p: [p["customer"], p["day"]]),
    "q11": ("""SELECT customer_id, CAST(CAST(transaction_date AS DATE) AS TIMESTAMP),
               transaction_date, current_balance FROM history
               WHERE customer_id = ? AND transaction_date >= CAST(? AS TIMESTAMP)
                 AND transaction_date < CAST(? AS TIMESTAMP)
               QUALIFY row_number() OVER (PARTITION BY CAST(transaction_date AS DATE)
                 ORDER BY transaction_date DESC, transaction_id DESC) = 1
               ORDER BY 2""", lambda p: [p["customer"], p["from"], p["until"]]),
    "q12": ("""SELECT customer_id, current_balance, cumulative_earned, cumulative_spent,
               cumulative_expired FROM current
               WHERE cumulative_spent = 0 AND cumulative_expired = 0 AND cumulative_earned > 0
               ORDER BY cumulative_earned DESC, customer_id""", lambda p: []),
}
# values rounded to cents after a division or an average may land one cent
# apart between engines
ROUNDED_AFTER_DIVISION = {("q6", 4), ("q9", 1)}


def norm(v):
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return v


def same_rows(q, got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for i, (a, b) in enumerate(zip(g, map(norm, w))):
            if isinstance(b, float) or isinstance(a, float):
                tol = 0.0100001 if (q, i) in ROUNDED_AFTER_DIVISION else 1e-6
                if not close(a, b, tol):
                    return False
            elif a != b:
                return False
    return True


def check_queries(con, run, data):
    con.execute(f"CREATE VIEW history AS SELECT * FROM read_parquet('{data}/history.parquet')")
    con.execute(f"CREATE VIEW current AS SELECT * FROM read_parquet('{data}/current.parquet')")
    with open(f"{data}/params.json") as f:
        rounds = json.load(f)["rounds"]
    failed, notes = 0, []
    with open(f"{run}/queries.jsonl") as f:
        for line in f:
            d = json.loads(line)
            if d["error"]:
                continue  # already counted as failed by the JVM
            sql, args = QUERIES[d["q"]]
            p = rounds[d["round"] % len(rounds)][d["q"]]
            want = con.execute(sql, args(p)).fetchall()
            if not same_rows(d["q"], d["rows"], want):
                failed += 1
                if len(notes) < 5:
                    notes.append(f"round {d['round']} {d['q']} {p}: got {d['rows'][:3]}, "
                                 f"want {[list(map(norm, w)) for w in want[:3]]}")
    return failed, notes


def check(workload, run, data, result):
    """(failed operations, whether the checks ran, notes). Operations the
    JVM already counted as failed are not checked again."""
    con = duckdb.connect()
    con.execute("SET threads = 4")  # the benchmark JVM has exited
    try:
        failed, notes = 0, []
        if workload in ("daily_batch", "balance_queries"):
            failed, notes = check_queries(con, run, data)
        if workload == "daily_batch" and not result["pipeline_failed"]:
            ledger(con, data)
            f, n = check_daily(con, run, data)
            failed, notes = failed + f, notes + n
        if workload == "ledger_replay" and not result["failed"]:
            ledger(con, data)
            notes = matched_ledger_checks(con, f"{run}/replay_ledger.parquet")
            failed = result["attempted"] if notes else 0
        return failed, True, notes
    except (duckdb.Error, OSError, KeyError, ValueError) as e:
        return result["attempted"], False, [f"checker could not run: {e}"]
    finally:
        con.close()
