"""Seeded inputs for graft's benchmark, with an oracle that never uses graft.

Everything here derives from one ``random.Random(seed)``:

* mail-log lines: Postfix noise (postscreen, smtpd, qmgr, cleanup, amavis,
  plus unparseable garbage) mixed with the two golden SASL line shapes;
* GeoIP country and ASN range CSVs, with gaps and a few malformed rows;
* the expected 9-column event row of every SASL record, built from the
  generator's own record, a binary search over its own ranges and the stub
  resolver below.

The stub resolver is the Python twin of ``graftbench.StubResolver``: an IP
resolves to a hostname unless its FNV-1a hash is divisible by five, in which
case the lookup fails with ``ERRNO 1``.
"""
import bisect
import gzip
import os
import random

import numpy as np

YEAR = 2025
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
COUNTRIES = ["US", "CN", "RU", "BR", "IN", "DE", "FR", "GB", "KR", "VN",
             "ID", "IR", "TR", "NL", "UA", "PL", "JP", "TW", "AR", "MX",
             "ZA", "EG", "TH", "PK", "NG", "CA", "IT", "ES", "RO", "SG"]
ORG_WORDS = ["Telecom", "Broadband", "Cloud", "Hosting", "Networks", "Data",
             "Online", "Mobile", "Backbone", "Internet", "Digital", "Link"]
USER_BASE = ["admin", "info", "test", "support", "office", "sales",
             "contact", "webmaster", "postmaster", "user", "mail", "backup"]
SERVER = "mx1"
DOMAINS = ["example.com", "example.org", "domain.tld", "mail.example.net"]

# Input sizes: backfill log lines (a third of them in the two rotated
# files), attacker-IP pool, hourly rounds and lines per round, and country
# and ASN geo ranges; "tiny" is the smoke-test size.
SCALES = {
    "pipeline": dict(lines=40000, pool=8000, rounds=12, lines_per_round=250,
                     geo=(50000, 75000)),
    "tiny": dict(lines=400, pool=80, rounds=12, lines_per_round=60,
                 geo=(2000, 3000)),
}
SASL_SHARE = 0.15
ZIPF_S = 1.05


def fnv1a32(s: str) -> int:
    h = 0x811C9DC5
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x01000193) & 0xFFFFFFFF
    return h


def stub_resolve(ip: str):
    """(hostname, reverse_dns_status) exactly as graft writes them."""
    if fnv1a32(ip) % 5 == 0:
        return "null", "ERRNO 1"
    return "host-" + ip.replace(".", "-") + ".pool.example.net", "OK"


def ip_str(v: int) -> str:
    return f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"


class Geo:
    """Disjoint sorted ranges over 1.0.0.0-223.255.255.255, about half the
    address space covered, so probes both hit and miss."""

    LO, HI = 1 << 24, (224 << 24) - 1

    def __init__(self, rng: random.Random, n: int, kind: str):
        g = np.random.default_rng(rng.getrandbits(64))
        cuts = np.unique(g.integers(self.LO, self.HI, size=2 * n + 64))
        cuts = cuts[:2 * n]
        self.starts = cuts[0::2].tolist()
        self.ends = cuts[1::2].tolist()
        if kind == "country":
            codes = g.integers(0, len(COUNTRIES), size=n).tolist()
            self.values = [(COUNTRIES[c],) for c in codes]
        else:
            asns = g.integers(1, 400000, size=n).tolist()
            w = g.integers(0, len(ORG_WORDS), size=(n, 2)).tolist()
            self.values = [(str(a), f"{ORG_WORDS[x]} {ORG_WORDS[y]} AS{a}")
                           for a, (x, y) in zip(asns, w)]

    def lookup(self, v: int):
        i = bisect.bisect_right(self.starts, v) - 1
        if i >= 0 and v <= self.ends[i]:
            return self.values[i]
        return None

    def write(self, path: str, rng: random.Random) -> None:
        """Headerless CSV; a few malformed rows (non-numeric bounds, too few
        columns) sit at random places and must be skipped by the loader."""
        bad = {rng.randrange(len(self.starts)): j for j in range(6)}
        out = []
        for i, (s, e, val) in enumerate(
                zip(self.starts, self.ends, self.values)):
            if i in bad:
                out.append([f"{ip_str(s)},{e},{val[0]}", "start,end,country",
                            f"{s}x,{e},{val[0]}", f"{s},,{val[0]}", "abc",
                            f"{s},{e}-1,{val[0]}"][bad[i]])
            out.append(",".join([str(s), str(e), *val]))
        with open(path, "w") as f:
            f.write("\n".join(out) + "\n")


class Zipf:
    def __init__(self, rng: random.Random, items, s=ZIPF_S):
        self.rng = rng
        self.items = items
        acc, self.cum = 0.0, []
        for k in range(1, len(items) + 1):
            acc += 1.0 / k ** s
            self.cum.append(acc)

    def draw(self):
        x = self.rng.random() * self.cum[-1]
        return self.items[bisect.bisect_left(self.cum, x)]


def syslog_stamp(month: int, day: int, sec: int):
    """(syslog prefix stamp, event date as graft writes it)."""
    h, m, s = sec // 3600, (sec // 60) % 60, sec % 60
    return (f"{MONTHS[month - 1]} {day:>2} {h:02}:{m:02}:{s:02}",
            f"{day:02}/{month:02}/{YEAR} {h:02}:{m:02}")


def sasl_line(pre: str, pid: int, ip: str, user: str, shape: str,
              mech: str = "PLAIN") -> str:
    """The two golden SASL shapes of FIXTURES.md section 1."""
    if shape == "failed":
        return (f"{pre} postfix/smtpd[{pid}]: warning: unknown[{ip}]: "
                f"SASL {mech} authentication failed: authentication failure, "
                f"sasl_username={user}")
    return (f"{pre} postfix/submission/smtpd[{pid}]: client=unknown[{ip}], "
            f"sasl_method={mech}, sasl_username={user}")


class MailLog:
    """Seeded line source. ``line()`` returns (text, record-or-None); a record
    is (server, "dd/MM/yyyy HH:mm", ip, user) for a SASL line."""

    def __init__(self, rng: random.Random, pool: int, day: int = 14,
                 month: int = 3, server: str = SERVER):
        self.rng = rng
        self.server = server
        self.month = month
        self.day = day
        self.sec = 0
        ips = set()
        while len(ips) < pool:
            ips.add(ip_str(rng.randrange(Geo.LO, Geo.HI)))
        ips = sorted(ips)
        rng.shuffle(ips)
        self.ips = Zipf(rng, ips)
        users = USER_BASE + [f"user{i}" for i in range(400)]
        users = [u if rng.random() < 0.5 else f"{u}@{rng.choice(DOMAINS)}"
                 for u in users]
        self.users = Zipf(rng, users)

    def next_day(self) -> None:
        self.day += 1
        self.sec = 0

    def _stamp(self):
        self.sec = min(self.sec + self.rng.randint(0, 2), 86399)
        return syslog_stamp(self.month, self.day, self.sec)

    def line(self):
        r = self.rng
        syslog, date = self._stamp()
        pre = f"{syslog} {self.server}"
        pid = r.randint(100, 65000)
        if r.random() < SASL_SHARE:
            ip, user = self.ips.draw(), self.users.draw()
            shape = "failed" if r.random() < 0.7 else "client"
            mech = r.choice(["PLAIN", "LOGIN"])
            return (sasl_line(pre, pid, ip, user, shape, mech),
                    (self.server, date, ip, user))
        ip = self.ips.draw()
        qid = "".join(r.choice("0123456789ABCDEF") for _ in range(10))
        k = r.randrange(10)
        text = [
            f"{pre} postfix/postscreen[{pid}]: CONNECT from [{ip}]:"
            f"{r.randint(1024, 65535)} to [192.0.2.1]:25",
            f"{pre} postfix/smtpd[{pid}]: connect from unknown[{ip}]",
            f"{pre} postfix/smtpd[{pid}]: disconnect from unknown[{ip}] "
            f"ehlo=1 auth=0/1 quit=1 commands=2/3",
            f"{pre} postfix/qmgr[{pid}]: {qid}: from=<bounce@example.org>, "
            f"size={r.randint(800, 90000)}, nrcpt=1 (queue active)",
            f"{pre} postfix/cleanup[{pid}]: {qid}: message-id=<{qid.lower()}"
            f"@example.org>",
            f"{pre} amavis[{pid}]: ({pid}-01) Passed CLEAN {{RelayedInbound}}, "
            f"[{ip}]:{r.randint(1024, 65535)} <a@example.org> -> "
            f"<b@example.com>, Hits: -1.2, size: {r.randint(800, 90000)}, "
            f"{r.randint(50, 900)} ms",
            f"{pre} postfix/smtpd[{pid}]: warning: unknown[{ip}]: SASL LOGIN "
            f"authentication failed: UGFzc3dvcmQ6",
            "This is not a log line.",
            "GARBLED LOG DATA WITHOUT EXPECTED FORMAT",
            "Xyz 15 10:00:00 s p[1]: ... sasl_username=u",
        ][k]
        return text, None

    def lines(self, n: int):
        return [self.line() for _ in range(n)]


def expected_row(rec, country: Geo, asn: Geo):
    server, date, ip, user = rec
    host, status = stub_resolve(ip)
    a, b, c, d = (int(x) for x in ip.split("."))
    v = (a << 24) | (b << 16) | (c << 8) | d
    cc = country.lookup(v)
    an = asn.lookup(v)
    return (server, date, ip, user, host, status,
            cc[0] if cc else "N/A",
            an[0] if an else "N/A", an[1] if an else "N/A")


def _write(path: str, lines) -> None:
    data = "".join(t + "\n" for t, _ in lines).encode()
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "wb") as f:
        f.write(data)


def make_geo(rng: random.Random, out: str, sizes):
    country, asn = Geo(rng, sizes[0], "country"), Geo(rng, sizes[1], "asn")
    os.makedirs(out, exist_ok=True)
    country.write(os.path.join(out, "country.csv"), rng)
    asn.write(os.path.join(out, "asn.csv"), rng)
    return country, asn


def make_warmup(rng: random.Random, out: str) -> None:
    """A tiny separate log for the warm-up run of the pipeline set-up."""
    os.makedirs(out, exist_ok=True)
    log = MailLog(rng, pool=20, day=1, month=1)
    _write(os.path.join(out, "mail.log"), log.lines(200))


def today(log: MailLog) -> str:
    return f"{log.day:02}/{log.month:02}/{YEAR}"


def split_point(text: str, rng: random.Random) -> int:
    """Byte offset inside the sasl_username value of a SASL line."""
    at = text.index("sasl_username=") + len("sasl_username=")
    return rng.randint(at + 1, len(text) - 1)


def make_pipeline(seed: int, out: str, scale: str = "pipeline"):
    """All inputs of the pipeline workload, under `out`:

    * geo/: the country and ASN range CSVs; warmup/: a tiny separate log;
    * logs/: the backfill history, mail.log.2.gz (day 1) + mail.log.1
      (day 2) + a large live mail.log (day 3);
    * chunks/: the hourly plan of day 4, one append chunk per round, raw
      bytes so a chunk can end mid-line. Round r (1-based) ends mid-line
      when r % 5 == 3 (inside a SASL username; round r+1 completes the
      line), is followed by a logrotate-style rotation when r % 10 == 0,
      and by a daily report when r % 6 == 0. The same attackers (one Zipf
      pool) come back every day.

    Returns a dict: backfill `rows`, `lines` and `today`; hourly `plan`,
    `expected` rows per round and `hourly_today`."""
    rng = random.Random(seed)
    sc = SCALES[scale]
    country, asn = make_geo(rng, os.path.join(out, "geo"), sc["geo"])
    make_warmup(rng, os.path.join(out, "warmup"))
    log = MailLog(rng, sc["pool"])
    logs = os.path.join(out, "logs")
    os.makedirs(logs)
    n = sc["lines"]
    parts = [("mail.log.2.gz", n // 6), ("mail.log.1", n // 6),
             ("mail.log", n - 2 * (n // 6))]
    rows = []
    for i, (name, k) in enumerate(parts):
        if i:
            log.next_day()
        lines = log.lines(k)
        _write(os.path.join(logs, name), lines)
        rows += [expected_row(r, country, asn) for _, r in lines if r]
    backfill_today = today(log)
    log.next_day()
    chunks = os.path.join(out, "chunks")
    os.makedirs(chunks)
    plan, expected = [], []
    carry = b""          # tail of a split line, written by the next round
    carry_row = None     # its record, expected once the line completes
    for r in range(1, sc["rounds"] + 1):
        lines = log.lines(sc["lines_per_round"])
        got = [expected_row(rec, country, asn) for _, rec in lines if rec]
        if carry_row:
            got.insert(0, carry_row)
        data = carry + "".join(t + "\n" for t, _ in lines).encode()
        carry, carry_row = b"", None
        if r % 5 == 3 and r < sc["rounds"]:
            text, rec = log.line()
            while rec is None:
                text, rec = log.line()
            cut = split_point(text, rng)
            raw = (text + "\n").encode()
            data += raw[:cut]
            carry, carry_row = raw[cut:], expected_row(rec, country, asn)
        path = os.path.join(chunks, f"{r:04}.log")
        with open(path, "wb") as f:
            f.write(data)
        plan.append(dict(round=r, chunk=path, lines=len(lines),
                         rotate=r % 10 == 0, report=r % 6 == 0,
                         mid_line=bool(carry)))
        expected.append(got)
    return dict(rows=rows, lines=n, today=backfill_today, plan=plan,
                expected=expected, hourly_today=today(log))
