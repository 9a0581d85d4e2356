"""DuckDB checks of the outputs a run leaves behind.

`check_indicators` recomputes the indicator fact from the final kline sink
with the formula of `PipelineE2E.oracle` (14-row SMA, RSI and 2-sigma
Bollinger bands per symbol and interval, ordered by close time) and compares
it with what the incremental indicator job appended over the run.

`check_queries` runs each query's oracle SQL from `SparkEntry.oracleSql` over
the generated tables and compares it with the query's output, the way
`tools/check_correctness.py` does: columns sorted by name, rows sorted, floats
rounded to 9 digits.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

INDICATOR_SQL = """
WITH k AS (
  SELECT symbol_id, interval_id, CAST(epoch(close_time) AS BIGINT) AS close_sec,
         CAST(close_price AS DOUBLE) AS p
  FROM read_parquet('{klines}/*.parquet')
  WHERE close_time IS NOT NULL
), diffs AS (
  SELECT *, p - lag(p) OVER (PARTITION BY symbol_id, interval_id ORDER BY close_sec) AS diff
  FROM k
), gl AS (
  SELECT *, CASE WHEN diff > 0 THEN diff ELSE 0.0 END AS gain,
            CASE WHEN diff < 0 THEN -diff ELSE 0.0 END AS loss
  FROM diffs
), wide AS (
  SELECT symbol_id, interval_id, close_sec,
    AVG(p) OVER w AS sma,
    100.0 - 100.0 / (1.0 + (AVG(gain) OVER w) / NULLIF(AVG(loss) OVER w, 0.0)) AS rsi,
    AVG(p) OVER w + 2 * STDDEV_SAMP(p) OVER w AS bb_up,
    AVG(p) OVER w - 2 * STDDEV_SAMP(p) OVER w AS bb_down
  FROM gl
  WINDOW w AS (PARTITION BY symbol_id, interval_id ORDER BY close_sec
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), long AS (
  SELECT symbol_id, interval_id, close_sec, 1 AS type_id, sma AS value FROM wide
  UNION ALL SELECT symbol_id, interval_id, close_sec, 2, rsi FROM wide
  UNION ALL SELECT symbol_id, interval_id, close_sec, 3, bb_up FROM wide
  UNION ALL SELECT symbol_id, interval_id, close_sec, 4, bb_down FROM wide
), oracle AS (
  SELECT * FROM long WHERE value IS NOT NULL
), got AS (
  SELECT symbol_id, interval_id, type_id, CAST(epoch("timestamp") AS BIGINT) AS close_sec,
         CAST(value AS DOUBLE) AS value
  FROM read_parquet('{indicators}/*.parquet')
)
SELECT
  (SELECT count(*) FROM oracle) AS n_oracle,
  (SELECT count(*) FROM got) AS n_got,
  (SELECT count(*) FROM (SELECT symbol_id, interval_id, type_id, close_sec
                         FROM got GROUP BY ALL HAVING count(*) > 1)) AS n_dup_keys,
  (SELECT count(*) FROM oracle o FULL JOIN got g
     USING (symbol_id, interval_id, type_id, close_sec)
   WHERE o.value IS NULL OR g.value IS NULL
      OR abs(o.value - g.value) > greatest(1e-6, 1e-9 * abs(o.value))) AS n_bad
"""


def check_indicators(klines, indicators):
    """Failure messages (empty when the indicator fact is right)."""
    con = duckdb.connect()
    n_oracle, n_got, n_dup, n_bad = con.execute(
        INDICATOR_SQL.format(klines=klines, indicators=indicators)).fetchone()
    errs = []
    if n_oracle == 0:
        errs.append("indicator recomputation is empty")
    if n_dup:
        errs.append(f"indicator fact has {n_dup} duplicate keys")
    if n_bad or n_got != n_oracle:
        errs.append(f"indicator fact differs from the recomputation: {n_bad} rows "
                    f"(fact {n_got}, recomputed {n_oracle})")
    return errs


def _normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if v is None:
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(round(v, 9)))
            elif isinstance(v, bool):
                vals.append(str(int(v)))
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return [colnames[i] for i in order], out


def compare(spark_cols, spark_rows, ora_cols, ora_rows):
    """None when equal, else a one-line reason."""
    sc, sr = _normalize(spark_rows, spark_cols)
    oc, orr = _normalize(ora_rows, ora_cols)
    if sc != oc:
        return f"columns differ: {sc} vs oracle {oc}"
    if len(sr) != len(orr):
        return f"row count {len(sr)} vs oracle {len(orr)}"
    if not sr:
        return "empty result"
    for i, (x, y) in enumerate(zip(sr, orr)):
        if x != y:
            return f"sorted row {i}: {x[:200]} vs oracle {y[:200]}"
    return None


def check_queries(data_dir, check_dir):
    """{query: reason} for every query whose output differs from its oracle."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracles.items()):
        if sql is None:
            bad[name] = "no oracle"
            continue
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            bad[name] = "no output"
            continue
        try:
            t = pq.read_table(os.path.join(check_dir, name))
            cur = con.execute(sql)
            reason = compare(t.column_names, [tuple(r.values()) for r in t.to_pylist()],
                             [d[0] for d in cur.description], cur.fetchall())
        except Exception as e:  # an oracle or read error is a failed check
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad[name] = reason
    return bad
