"""Correctness checks of the benchmark's outputs.

Each check compares what graft wrote with what an independent model says it
should have written:

* events: the 9-column rows of a run against the generator's expected rows;
* reports: each block of the rendered report against the reference's own
  formatting (``tools/golden_report.py``) applied to the rows the report
  read;
* export/import: statement count and the rows Derby holds against the
  day's rows, with the exporter's NULL rules applied;
* suite: each query result against DuckDB running the query's oracle SQL,
  compared the way ``tools/check.py`` does.
"""
import collections
import csv
import glob
import hashlib
import importlib.util
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NULL_LIKES = {"null", "na", "n/a", ""}


def _tool(name: str):
    """Loads one of the repo's ``tools/*.py`` modules, read-only."""
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"graft_tools_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def part_files(sink: str):
    return sorted(glob.glob(os.path.join(sink, "part-*")))


def read_events(files):
    """Rows of Spark's `;`-delimited CSV part files, header skipped."""
    rows = []
    for f in files:
        with open(f, newline="") as fh:
            r = csv.reader(fh, delimiter=";")
            next(r, None)
            rows += [tuple(x) for x in r if x]
    return rows


def same_rows(actual, expected) -> bool:
    return collections.Counter(actual) == collections.Counter(expected)


def _top(rows, key, k=None):
    c = collections.Counter(key(r) for r in rows)
    items = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    return items[:k] if k else items


def expected_report(rows, today: str, server: str) -> str:
    t = [r for r in rows if r[1].startswith(today)]
    fails = [r for r in t if r[5] != "OK"]
    stats = dict(
        total_today=len(t),
        top10_today=_top(t, lambda r: (r[3], r[2], r[4], r[6]), 10),
        top10_usernames=_top(t, lambda r: r[3], 10),
        top10_countries=_top(t, lambda r: r[6], 10),
        top10_aso=_top(t, lambda r: r[8], 10),
        top10_asn=_top(t, lambda r: r[7], 10),
        total_rev_dns_failures=len(fails),
        rev_dns_error_counts=_top(fails, lambda r: r[5]),
        csv_size_k_str="0.0K",
        csv_lines_str="0",
    )
    return _tool("golden_report").render(
        "MailLogSentinel", "v1.0.5-A", "hourly", today, server, server,
        stats, "maillogsentinel.csv")


def blocks(text: str):
    return text.split("\n\n")


def report_failures(actual: str, rows, today: str, server: str):
    """(blocks checked, blocks wrong)."""
    want = blocks(expected_report(rows, today, server))
    got = blocks(actual)
    wrong = sum(1 for i, b in enumerate(want) if i >= len(got) or got[i] != b)
    return len(want), wrong + max(0, len(got) - len(want))


def sql_row(r):
    """An event row as Derby holds it after export and import."""
    def nul(v):
        return None if v.lower() in NULL_LIKES else v
    asn = nul(r[7])
    try:
        asn = str(int(asn)) if asn is not None else None
    except ValueError:
        asn = None
    return (nul(r[0]), nul(r[1]), nul(r[2]), nul(r[3]), nul(r[4]),
            nul(r[5]), nul(r[6]), asn, nul(r[8]))


def read_derby(path):
    rows = []
    with open(path) as f:
        for line in f:
            vals = line.rstrip("\n").split("\t")
            rows.append(tuple(None if v == "\\N" else v for v in vals))
    return rows


class SuiteOracle:
    """DuckDB over the suite's parquet tables; expected (columns, rows, hash)
    per query are cached on disk, keyed by the oracle SQL and the data."""

    def __init__(self, data_dir: str, cache_file: str):
        self.data_dir = data_dir
        self.cache_file = cache_file
        self.check = _tool("check")
        self.con = None
        try:
            with open(cache_file) as f:
                self.cache = json.load(f)
        except (OSError, ValueError):
            self.cache = {}
        h = hashlib.sha256()
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            h.update(os.path.basename(p).encode())
            h.update(str(os.path.getsize(p)).encode())
        self.data_key = h.hexdigest()[:16]

    def _duck(self):
        if self.con is None:
            import duckdb
            self.con = duckdb.connect()
            self.con.execute("SET threads=4")
            for t in self.check.TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self.con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def expected(self, sql: str):
        key = hashlib.sha256((self.data_key + sql).encode()).hexdigest()
        if key not in self.cache:
            w = self.check.norm(self._duck().execute(sql).fetchdf())
            self.cache[key] = [list(w.columns), len(w),
                               self.check.table_hash(w)]
        return self.cache[key]

    def matches(self, out_dir: str, sql: str) -> bool:
        import pandas as pd
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return False
        g = self.check.norm(pd.concat([pd.read_parquet(f) for f in files],
                                      ignore_index=True))
        cols, n, h = self.expected(sql)
        return (list(g.columns) == cols and len(g) == n
                and self.check.table_hash(g) == h)

    def save(self):
        tmp = self.cache_file + ".tmp"
        os.makedirs(os.path.dirname(self.cache_file), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(self.cache, f)
        os.replace(tmp, self.cache_file)
