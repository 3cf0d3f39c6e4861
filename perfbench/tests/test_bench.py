"""Tests of graft's benchmark: generator, oracle, percentiles, smoke runs.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests build graft and start one JVM per workload at the tiny
input size; they take about half a minute each.
"""
import filecmp
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def read_bytes(path):
    with open(path, "rb") as f:
        return f.read()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def inputs(self, name, seed):
        out = os.path.join(self.tmp, name)
        return out, gen.make_pipeline(seed, out, "tiny")

    def test_same_seed_same_inputs(self):
        a, ra = self.inputs("a", 7)
        b, rb = self.inputs("b", 7)
        for key in ("rows", "expected", "today", "hourly_today"):
            self.assertEqual(ra[key], rb[key], key)
        for rel in ("logs/mail.log", "logs/mail.log.1", "geo/country.csv",
                    "geo/asn.csv", "warmup/mail.log"):
            self.assertTrue(filecmp.cmp(os.path.join(a, rel),
                                        os.path.join(b, rel), shallow=False),
                            rel)
        for x, y in zip(ra["plan"], rb["plan"]):
            self.assertTrue(filecmp.cmp(x["chunk"], y["chunk"], shallow=False))
        _, rc = self.inputs("c", 8)
        self.assertNotEqual(ra["rows"], rc["rows"])

    def test_golden_lines(self):
        """FIXTURES.md section 1: both SASL shapes become one row each; the
        garbage lines are noise and carry no record."""
        rng = random.Random(1)
        country = gen.Geo(rng, 50, "country")
        asn = gen.Geo(rng, 50, "asn")
        stamp, date = gen.syslog_stamp(3, 15, 10 * 3600)
        line = gen.sasl_line(f"{stamp} server1", 100, "1.1.1.1",
                             "user1@example.com", "client")
        self.assertEqual(
            line, "Mar 15 10:00:00 server1 postfix/submission/smtpd[100]: "
                  "client=unknown[1.1.1.1], sasl_method=PLAIN, "
                  "sasl_username=user1@example.com")
        stamp2, date2 = gen.syslog_stamp(10, 2, 12 * 3600 + 35 * 60)
        line2 = gen.sasl_line(f"{stamp2} mail", 12345, "203.0.113.5",
                              "baduser@example.com", "failed")
        self.assertEqual(
            line2, "Oct  2 12:35:00 mail postfix/smtpd[12345]: warning: "
                   "unknown[203.0.113.5]: SASL PLAIN authentication failed: "
                   "authentication failure, sasl_username=baduser@example.com")
        for rec, ip_int in (
                (("server1", date, "1.1.1.1", "user1@example.com"), 16843009),
                (("mail", date2, "203.0.113.5", "baduser@example.com"),
                 3405803781)):
            row = gen.expected_row(rec, country, asn)
            host, status = gen.stub_resolve(rec[2])
            cc, an = country.lookup(ip_int), asn.lookup(ip_int)
            self.assertEqual(row, (*rec, host, status,
                                   cc[0] if cc else "N/A",
                                   an[0] if an else "N/A",
                                   an[1] if an else "N/A"))
        self.assertEqual(date, f"15/03/{gen.YEAR} 10:00")
        self.assertEqual(date2, f"02/10/{gen.YEAR} 12:35")
        log = gen.MailLog(random.Random(2), pool=10)
        garbage = {"This is not a log line.",
                   "GARBLED LOG DATA WITHOUT EXPECTED FORMAT",
                   "Xyz 15 10:00:00 s p[1]: ... sasl_username=u"}
        seen = set()
        for text, rec in log.lines(3000):
            if text in garbage:
                seen.add(text)
                self.assertIsNone(rec)
            self.assertEqual(rec is not None, "sasl_username=" in text and
                             text not in garbage)
        self.assertEqual(seen, garbage)

    def test_stub_resolver_twin(self):
        # values the Scala StubResolver computes for the same addresses
        self.assertEqual(gen.fnv1a32("1.1.1.1"), 0x3A5EA341)
        self.assertEqual(gen.stub_resolve("1.1.1.1"), ("null", "ERRNO 1"))
        self.assertEqual(gen.fnv1a32("8.8.8.8"), 0x28144429)
        self.assertEqual(gen.stub_resolve("8.8.8.8"),
                         ("host-8-8-8-8.pool.example.net", "OK"))

    def test_geo_lookup_edges(self):
        geo = gen.Geo(random.Random(4), 20, "country")
        s, e = geo.starts[3], geo.ends[3]
        self.assertEqual(geo.lookup(s), geo.values[3])
        self.assertEqual(geo.lookup(e), geo.values[3])
        self.assertIsNone(geo.lookup(e + 1) if e + 1 < geo.starts[4]
                          else None)
        self.assertIsNone(geo.lookup(geo.starts[0] - 1))

    def test_partial_line_waits_for_completion(self):
        d = gen.make_pipeline(5, os.path.join(self.tmp, "h"), "tiny")
        plan, expected = d["plan"], d["expected"]
        mids = [p for p in plan if p["mid_line"]]
        self.assertTrue(mids)
        for p in mids:
            r = p["round"]
            this, nxt = read_bytes(p["chunk"]), read_bytes(plan[r]["chunk"])
            self.assertFalse(this.endswith(b"\n"))
            head, tail = this.rsplit(b"\n", 1)
            rest, _ = nxt.split(b"\n", 1)
            whole = (tail + rest).decode()
            self.assertIn("sasl_username=", tail.decode())
            self.assertNotIn(b"sasl_username=", rest)
            complete = [x for x in head.decode().split("\n")
                        if "sasl_username=" in x and not x.startswith("Xyz")]
            self.assertEqual(len(expected[r - 1]), len(complete))
            user = whole.rsplit("sasl_username=", 1)[1]
            self.assertEqual(expected[r][0][3], user)


class OracleTest(unittest.TestCase):
    def test_report_blocks(self):
        rows = [("mx1", "16/03/2025 10:00", "1.2.3.4", "admin", "null",
                 "ERRNO 1", "US", "13335", "Cloud AS13335")] * 3 + \
               [("mx1", "15/03/2025 10:00", "1.2.3.5", "root", "h", "OK",
                 "N/A", "N/A", "N/A")]
        text = oracle.expected_report(rows, "16/03/2025", "mx1")
        self.assertIn("Total attempts today: 3", text)
        self.assertEqual(oracle.report_failures(text, rows, "16/03/2025",
                                                "mx1")[1], 0)
        bad = text.replace("Total attempts today: 3", "Total attempts today: 4")
        self.assertEqual(oracle.report_failures(bad, rows, "16/03/2025",
                                                "mx1")[1], 1)

    def test_sql_row_null_rules(self):
        r = ("mx1", "16/03/2025 10:00", "1.2.3.4", "admin", "null",
             "ERRNO 1", "N/A", "N/A", "N/A")
        self.assertEqual(oracle.sql_row(r), ("mx1", "16/03/2025 10:00",
                                             "1.2.3.4", "admin", None,
                                             "ERRNO 1", None, None, None))


class PercentileTest(unittest.TestCase):
    def test_ranks(self):
        self.assertEqual(stats.rank(40, 0.75), 30)
        self.assertEqual(stats.beyond(40, 0.75), 10)
        self.assertEqual(stats.beyond(254, 0.95), 12)
        self.assertEqual(stats.beyond(20, 0.5), 10)

    def test_values(self):
        xs = list(range(1, 41))
        random.Random(0).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 0.75), 30)
        self.assertEqual(stats.percentile(xs, 0.5), 20)
        self.assertEqual(stats.percentile(range(254), 0.95), 241)

    def test_needs_ten_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(range(39), 0.75)
        with self.assertRaises(ValueError):
            stats.percentile(range(199), 0.95)
        with self.assertRaises(ValueError):
            stats.percentile(range(19), 0.5)
        stats.percentile(range(200), 0.95)

    def test_tails_skips_thin_percentiles(self):
        figures = {}
        run.tails(figures, "run", list(range(30)), (0.5, 0.75))
        self.assertIn("run_p50_s", figures)
        self.assertNotIn("run_p75_s", figures)


class SmokeTest(unittest.TestCase):
    """Each workload at the tiny size, end to end through run.py."""

    def bench(self, workload, trace=0):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             workload, "--seed", "1", "--scale", "tiny", "--trace",
             str(trace)], capture_output=True, text=True, timeout=600,
            cwd=os.path.dirname(BENCH))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(out["correct"], r.stderr[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        names = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual(set(out["metrics"]), set(names))
        return out

    def test_pipeline(self):
        out = self.bench("pipeline")
        for m in out["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_pipeline_traced(self):
        m = self.bench("pipeline", trace=1)["metrics"]
        for name in ("sources.tail.bytes", "operators.rdns.calls",
                     "sources.export.statements", "Pipeline.jobs_per_run"):
            self.assertGreater(m[name]["value"], 0, name)

    def test_suite(self):
        out = self.bench("suite")
        self.assertEqual(out["failed"], 0)
        for m in out["metrics"].values():
            self.assertGreater(m["value"], 0)

    def test_suite_traced(self):
        m = self.bench("suite", trace=1)["metrics"]
        self.assertGreater(m["queries.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
