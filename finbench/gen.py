"""Seeded inputs for the finance-pipeline benchmark.

    python3 finbench/gen.py --seed 1 --out .bench_data/seed_1

writes, for one seed, always the same files:

  events.parquet    the ledger in the events feed shape (event_id, ts as
                    TIMESTAMP(NANOS), user_id, event_type, value, props) that
                    `Tables.transactions` ingests unchanged
  history.parquet   customer balance history, derived here in DuckDB with the
                    schema `BalanceAnalytics.balanceHistory` produces
  current.parquet   customer current balances (`BalanceAnalytics.currentBalances`
                    schema)
  params.json       the seeded Q1-Q12 parameter draws for `balance_queries`

The program never sees the seed, only these files.
"""
import argparse
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The ledger follows the events table of the sf0.1 test data set (100,000
# rows), measured in DuckDB (see README.md, "Inputs"):
#  - 1,500 customers, each row's customer drawn uniformly: 45-99 rows per
#    customer, median 66, standard deviation 8.2 (binomial);
#  - the five event types drawn uniformly, 19.8-20.3 % each;
#  - timestamps uniform over 30 days from 2024-01-01 (3,205-3,471 rows a day);
#  - event ids 0..n-1 in timestamp order;
#  - values exponential with mean 50 in cents: measured quantiles 0.53, 5.35,
#    14.64, 34.77, 68.9, 114.3, 228.1 at 1/10/25/50/75/90/99 %, the same for
#    every event type;
#  - props '{"k": <0..99>}'.
ROWS = 100_000          # ledger rows
CUSTOMERS = 1_500
SPAN_DAYS = 30
START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in microseconds
MEAN_VALUE = 50.0
# feed event types, drawn with equal shares; purchase -> spent,
# error -> expired, the rest -> earned (Tables.transactions)
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
QUERY_ROUNDS = 64       # parameter rounds drawn; the benchmark cycles through them
WARMUP_ROUNDS = 1


def ledger(rng):
    n = ROWS
    ts_us = np.sort(START_US + rng.integers(0, SPAN_DAYS * 86_400_000_000, n))
    user = rng.integers(0, CUSTOMERS, n)
    etype = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.exponential(MEAN_VALUE, n), 2)
    props = rng.integers(0, 100, n)
    # written in a seeded order, not in event-id order
    order = rng.permutation(n)
    return pa.table({
        "event_id": pa.array(order, pa.int64()),
        "ts": pa.array(ts_us[order] * 1000, pa.timestamp("ns")),
        "user_id": pa.array(user[order], pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype[order]].tolist(), pa.string()),
        "value": pa.array(value[order], pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in props[order]], pa.string()),
    })


TXNS_SQL = """
  SELECT CAST(event_id AS VARCHAR) AS transaction_id,
         CAST(user_id AS VARCHAR) AS customer_id,
         CASE WHEN event_type IN ('purchase', 'error') THEN -value ELSE value END AS amount,
         CAST(ts AS TIMESTAMP) AS ts,
         CASE event_type WHEN 'purchase' THEN 'spent' WHEN 'error' THEN 'expired'
              ELSE 'earned' END AS transaction_type
  FROM read_parquet('{events}')
"""

HISTORY_SQL = """
  SELECT customer_id, ts AS transaction_date, transaction_id, transaction_type,
         amount AS transaction_amount,
         round(sum(CASE WHEN transaction_type = 'earned' THEN abs(amount) ELSE 0 END) OVER w, 2)
           AS cumulative_earned,
         round(sum(CASE WHEN transaction_type = 'spent' THEN abs(amount) ELSE 0 END) OVER w, 2)
           AS cumulative_spent,
         round(sum(CASE WHEN transaction_type = 'expired' THEN abs(amount) ELSE 0 END) OVER w, 2)
           AS cumulative_expired
  FROM txns
  WINDOW w AS (PARTITION BY customer_id ORDER BY ts, transaction_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def day(us):
    return np.datetime_as_string(np.datetime64(int(us), "us"), unit="s").replace("T", " ")


def query_params(rng, con):
    """Fresh customers and as-of dates per round, drawn from the seed."""
    custs = [r[0] for r in con.execute(
        "SELECT DISTINCT customer_id FROM txns ORDER BY 1").fetchall()]
    span = SPAN_DAYS * 86_400_000_000
    rounds = []
    for _ in range(WARMUP_ROUNDS + QUERY_ROUNDS):
        pick = lambda k: [custs[i] for i in rng.choice(len(custs), k, replace=False)]
        at = lambda: day(START_US + rng.integers(0, span))
        c10 = pick(1)[0]
        days = [r[0] for r in con.execute(
            "SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) FROM txns "
            "WHERE customer_id = ? ORDER BY 1", [c10]).fetchall()]
        a, b = sorted(int(x) for x in rng.integers(0, span, 2))
        w0 = int(rng.integers(0, span - 7 * 86_400_000_000))
        rounds.append({
            "q1": {"customers": pick(5), "as_of": at()},
            "q2": {"customers": pick(5)},
            "q3": {"customer": pick(1)[0]},
            "q4": {"customer": pick(1)[0]},
            "q5": {"as_of": at(), "threshold": float(rng.integers(0, 40)) * 25.0},
            "q6": {"customer": pick(1)[0], "start": day(START_US + a), "end": day(START_US + b)},
            "q7": {"as_of": at()},
            "q8": {"as_of": at()},
            "q9": {"as_of": at()},
            "q10": {"customer": c10, "day": days[int(rng.integers(0, len(days)))]},
            "q11": {"customer": pick(1)[0], "from": day(START_US + w0),
                    "until": day(START_US + w0 + 7 * 86_400_000_000)},
            "q12": {},
        })
    return {"warmup": rounds[:WARMUP_ROUNDS], "rounds": rounds[WARMUP_ROUNDS:]}


def generate(seed, out):
    rng = np.random.default_rng(seed)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    events = os.path.join(tmp, "events.parquet")
    pq.write_table(ledger(rng), events, row_group_size=1 << 20)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("CREATE TABLE txns AS " + TXNS_SQL.format(events=events))
    con.execute("CREATE TABLE history AS SELECT *, round(cumulative_earned - cumulative_spent"
                " - cumulative_expired, 2) AS current_balance FROM (" + HISTORY_SQL + ")")
    con.execute(f"""COPY (SELECT * FROM history ORDER BY customer_id, transaction_date,
                 transaction_id) TO '{tmp}/history.parquet' (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT customer_id, current_balance, cumulative_earned,
                 cumulative_spent, cumulative_expired FROM history
                 QUALIFY row_number() OVER (PARTITION BY customer_id
                   ORDER BY transaction_date DESC, transaction_id DESC) = 1
                 ORDER BY customer_id) TO '{tmp}/current.parquet' (FORMAT parquet)""")
    with open(os.path.join(tmp, "params.json"), "w") as f:
        json.dump(query_params(rng, con), f)
    con.close()
    os.rename(tmp, out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)


if __name__ == "__main__":
    main()
