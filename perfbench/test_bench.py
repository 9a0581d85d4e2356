"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

PERFBENCH_E2E=1 adds an end-to-end test that runs the command on every
workload of BENCHMARK.json, untraced and traced (several minutes).
"""
import datetime
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_work", "tests")


def read_keys(pattern):
    keys = set()
    for path in glob.glob(pattern):
        with open(path) as f:
            keys |= set(f.read().split())
    return keys


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "**"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def sub(self, name):
        return os.path.join(self.dir, name)


class SeedTest(Scratch):
    SMALL = {"ingest_cycle": {"hist_klines": 60, "hist_news": 100, "cycles": 5},
             "curation": {"docs": 120, "vecs": 60}}

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w, fn in gen.GENERATORS.items():
            with self.subTest(workload=w):
                fn(self.sub(f"{w}-a"), 11, self.SMALL[w])
                fn(self.sub(f"{w}-b"), 11, self.SMALL[w])
                fn(self.sub(f"{w}-c"), 12, self.SMALL[w])
                a, b, c = (tree_digest(self.sub(f"{w}-{x}")) for x in "abc")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class GeneratorCountTest(Scratch):
    def test_ingest_counts_match_duckdb(self):
        root = self.sub("ingest")
        m = gen.gen_ingest(root, 5, {"hist_klines": 80, "hist_news": 200, "cycles": 25})
        want = {k: m["history"][k] + m["cycle"][k] for k in m["history"]}
        con = duckdb.connect()

        def lines(topic):
            files = glob.glob(f"{root}/src/{topic}/*.txt") + glob.glob(f"{root}/stage/{topic}/*.txt")
            return (f"read_csv({files!r}, columns={{'line': 'VARCHAR'}}, delim=E'\\x01', "
                    f"header=false, quote='', escape='')")

        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        p, n = lines("prices"), lines("news")
        self.assertEqual(q(f"SELECT count(*) FROM {p}"), want["price_msgs"])
        self.assertEqual(q(f"SELECT count(*) FROM {p} WHERE NOT json_valid(line)"), want["price_malformed"])
        valid_p = f"(SELECT line FROM {p} WHERE json_valid(line))"
        self.assertEqual(q(f"SELECT count(*) FROM {valid_p} WHERE line->>'interval' IS NULL"),
                         want["price_missing_interval"])
        key = ("line->>'symbol' || '|' || coalesce(line->>'interval', '1h') || '|' || "
               "CAST(CAST(line->>'open_time' AS BIGINT) // 1000 AS VARCHAR)")
        self.assertEqual(q(f"SELECT count(*) - count(DISTINCT {key}) FROM {valid_p}"),
                         want["price_repolled"])
        truth = read_keys(f"{root}/truth/prices-*.keys")
        got = {r[0] for r in con.execute(f"SELECT DISTINCT {key} FROM {valid_p}").fetchall()}
        self.assertEqual(got, truth)
        self.assertEqual(len(truth), want["price_klines"])

        self.assertEqual(q(f"SELECT count(*) FROM {n}"), want["news_msgs"])
        self.assertEqual(q(f"SELECT count(*) FROM {n} WHERE NOT json_valid(line)"), want["news_malformed"])
        ok_url = ("regexp_matches(line->>'url', '^https://www\\.coindesk\\.com/[a-z0-9-]+') OR "
                  "regexp_matches(line->>'url', '^https://www\\.newsbtc\\.com/[a-z0-9-/]+')")
        valid_n = f"(SELECT line FROM {n} WHERE json_valid(line))"
        self.assertEqual(q(f"SELECT count(*) FROM {valid_n} WHERE NOT ({ok_url})"), want["news_rejected"])
        self.assertEqual(q(f"SELECT count(*) - count(DISTINCT line->>'url') FROM {valid_n} WHERE {ok_url}"),
                         want["news_recrawled"])
        truth = read_keys(f"{root}/truth/news-*.keys")
        got = {r[0] for r in con.execute(f"SELECT DISTINCT line->>'url' FROM {valid_n} WHERE {ok_url}").fetchall()}
        self.assertEqual(got, truth)

    def test_ingest_traffic_follows_the_reference_rates(self):
        root = self.sub("ingest")
        m = gen.gen_ingest(root, 5, {"hist_news": 50, "cycles": 25})
        hist = read_keys(f"{root}/truth/prices-hist.keys")
        self.assertEqual(len(hist), len(gen.SYMBOLS) * len(gen.INTERVALS) * 1000)
        for c in range(25):
            keys = read_keys(f"{root}/truth/prices-cycle-{c:05d}.keys")
            daily = {k for k in keys if "|1d|" in k}
            self.assertEqual(len(keys - daily), len(gen.SYMBOLS), c)
            self.assertEqual(len(daily), len(gen.SYMBOLS) if c == 23 else 0, c)
            with open(f"{root}/stage/news/cycle-{c:05d}.txt") as f:
                self.assertLessEqual(len(f.read().splitlines()), gen.NEWS_BOUND)
        self.assertLessEqual(m["cycle_news_max"], gen.NEWS_BOUND)

    def test_corpus_counts_match_duckdb(self):
        root = self.sub("corpus")
        m = gen.gen_corpus(root, 5, {"docs": 300, "vecs": 100})
        docs = f"read_parquet('{root}/documents.parquet')"
        con = duckdb.connect()
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        self.assertEqual(q(f"SELECT count(*) FROM {docs}"), m["docs"])
        self.assertEqual(q(f"SELECT count(*) - count(DISTINCT text) FROM {docs}"), m["exact_dups"])
        self.assertEqual(q(f"SELECT count(*) FROM {docs} WHERE text LIKE '% dup'"), m["near_dups"])
        templates = " OR ".join(f"contains(text, '{' '.join(t)}')" for t in gen.TEMPLATES)
        self.assertEqual(q(f"SELECT count(DISTINCT text) FROM {docs} WHERE {templates}"),
                         m["boilerplate_docs"])
        self.assertEqual(q(f"SELECT count(*) FROM read_parquet('{root}/embeddings.parquet')"), m["vecs"])


class CheckerTest(Scratch):
    def write(self, name, rows, schema):
        d = self.sub(name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(d, "part-0.parquet"))
        return d

    def test_indicator_check_accepts_truth_and_rejects_tampering(self):
        con = duckdb.connect()
        kl = con.execute("""
            SELECT CAST(1 + s AS INT) AS symbol_id, 1 AS interval_id,
                   make_timestamp(CAST(1704067200 + 3600 * i AS BIGINT) * 1000000) AS close_time,
                   CAST(100 + s + sin(i) * 3 + i * 0.1 AS DECIMAL(20,10)) AS close_price
            FROM range(2) t(s), range(40) u(i)""").arrow()
        kdir = self.sub("klines")
        os.makedirs(kdir)
        pq.write_table(kl, os.path.join(kdir, "part-0.parquet"))
        sql = checks.INDICATOR_SQL.split("), got AS")[0] + ") SELECT * FROM oracle"
        ora = con.execute(sql.format(klines=kdir, indicators="")).fetchall()
        schema = pa.schema([("symbol_id", pa.int32()), ("interval_id", pa.int32()),
                            ("type_id", pa.int32()), ("value", pa.float64()),
                            ("timestamp", pa.timestamp("us"))])
        rows = [{"symbol_id": r[0], "interval_id": r[1], "type_id": r[3], "value": r[4],
                 "timestamp": datetime.datetime.fromtimestamp(r[2], datetime.timezone.utc).replace(tzinfo=None)} for r in ora]
        good = self.write("good", rows, schema)
        self.assertEqual(checks.check_indicators(kdir, good), [])
        rows[7] = dict(rows[7], value=rows[7]["value"] + 0.01)
        self.assertTrue(checks.check_indicators(kdir, self.write("tampered", rows, schema)))
        self.assertTrue(checks.check_indicators(kdir, self.write("short", rows[:-1], schema)))
        self.assertTrue(checks.check_indicators(kdir, self.write("dup", rows + rows[:1], schema)))

    def test_query_check_accepts_oracle_and_rejects_tampering(self):
        data = self.sub("data")
        gen.gen_corpus(data, 3, {"docs": 60, "vecs": 30})
        out = self.sub("check")
        sql = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
        os.makedirs(out)
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q_good": sql, "q_bad": sql, "q_missing": sql, "q_no_oracle": None}, f)
        rows = duckdb.connect().execute(
            sql.replace("documents", f"read_parquet('{data}/documents.parquet')")).fetchall()
        schema = pa.schema([("lang", pa.string()), ("n", pa.int64())])
        as_dicts = [{"lang": r[0], "n": r[1]} for r in rows]
        self.write("check/q_good", as_dicts, schema)
        as_dicts[0] = dict(as_dicts[0], n=as_dicts[0]["n"] + 1)
        self.write("check/q_bad", as_dicts, schema)
        bad = checks.check_queries(data, out)
        self.assertEqual(sorted(bad), ["q_bad", "q_missing", "q_no_oracle"])


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_names_and_units(self):
        names = [m["name"] for m in self.bench["per_layer"]]
        self.assertEqual(sorted(names), sorted(run.PER_LAYER))
        for m in self.bench["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]), m["name"])

    def test_end_to_end_names_and_units(self):
        h = {"steps": [["s", 1.0 + i / 10, False] for i in range(7)], "cold_s": 2.0,
             "ops": [[7.0, False], [7.5, False]],
             "setup_s": 3.0,
             "figures": {"docs_per_s.1": 10.0, "knn_queries_per_s.1": 5.0}}
        manifest = {"history": {"price_msgs": 100, "news_msgs": 50}}
        for w in (x["name"] for x in self.bench["workloads"]):
            metrics, _, _ = run.end_to_end(w, h, manifest)
            want = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
            self.assertEqual({k: u for k, (_, u) in metrics.items()}, want, w)
            self.assertTrue(all(v > 0 for v, _ in metrics.values()), w)

    def test_per_layer_refuses_missing_and_nan(self):
        for w, idle in run.NOT_EXERCISED.items():
            full = {k: 1.0 for k in run.PER_LAYER if not k.startswith(idle)}
            out = run.per_layer(w, full)
            self.assertEqual(list(out), list(run.PER_LAYER))
            self.assertTrue(all(out[k]["value"] == 0.0 for k in out if k.startswith(idle)))
            some = sorted(full)[0]
            for broken in ({k: v for k, v in full.items() if k != some},
                           dict(full, **{some: None}), dict(full, **{some: float("nan")}),
                           dict(full, **{next(k for k in run.PER_LAYER if k.startswith(idle)): 1.0})):
                with self.assertRaises(ValueError, msg=w):
                    run.per_layer(w, broken)

    def test_op_count_follows_from_the_seconds_alone(self):
        seconds = self.bench["run_seconds"]
        self.assertEqual(run.n_ops("ingest_cycle", seconds, 0), 3)
        self.assertEqual(run.n_ops("curation", seconds, 0), 2)
        for w in run.WORKLOADS:
            self.assertEqual(run.n_ops(w, 1, 0), 1)
            self.assertEqual(run.n_ops(w, 1, 1), 2)

    def test_tail_rule(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        v, pct = run.tail([float(i) for i in range(1, 101)])
        self.assertEqual((v, pct), (90.0, 90.0))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "set PERFBENCH_E2E=1")
class EndToEndTest(unittest.TestCase):
    def test_every_metric_is_printed_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for w in (x["name"] for x in bench["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    r = subprocess.run(bench["command"] + [
                        "--workload", w, "--seed", "3", "--seconds", "3", "--trace", str(trace)],
                        cwd=ROOT, stdout=subprocess.PIPE, text=True)
                    self.assertEqual(r.returncode, 0)
                    out = json.loads(r.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(out["correct"])
                    self.assertEqual(out["failed"], 0)
                    want = {m["name"]: m["unit"] for m in bench[key]}
                    self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)


if __name__ == "__main__":
    unittest.main()
