"""The two lanes that drive the production daemon CLI, graft.streaming.Daemon,
as a separate process: ingest_catchup and dashboard_mixed.

The load generator, the HTTP clients and the checker run here. Every value a
series carries comes from value(), so the checker computes each expected
answer from the generator's own function, apart from the program."""
import hashlib
import http.client
import json
import os
import random
import socket
import subprocess
import threading
import time
import urllib.parse

import common

TRIGGER_S = 5  # Ingest's micro-batch trigger; triggers fall on multiples of it
N_CLIENTS = 2  # closed-loop dashboard clients
SCHEMA = """\
[bench_{name}]
pattern = ^bench\\.{name}\\.
retentions = 1s:{l0},10s:2d
xFilesFactor = 1
aggregationMethod = {method}
cacheRetention = {cache}
"""


class Values:
    """value(metric, offset): a per-series linear ramp modulo 1000, in
    quarters, so every sum the checker forms is exact. Offsets are seconds
    relative to the run's base time; the seed draws each series' ramp."""

    def __init__(self, seed):
        self.seed = seed
        self.params = {}

    def __call__(self, metric, off):
        p = self.params.get(metric)
        if p is None:
            rng = random.Random(f"{self.seed}:{metric}")
            p = self.params[metric] = (rng.randrange(1000), rng.randrange(1, 97))
        return ((p[0] + p[1] * off) % 1000) / 4.0 + 1.0


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Daemon:
    """graft.streaming.Daemon <root> <storage-schemas.conf> <linePort> <httpPort>,
    with Spark listeners added through system properties on traced runs."""

    def __init__(self, run_dir, root, conf, trace):
        self.line_port, self.http_port = free_port(), free_port()
        self.trace_file = os.path.join(run_dir, "daemon_trace.json")
        props = []
        if trace:
            props = ["-Dspark.extraListeners=kbench.SparkTrace",
                     "-Dspark.sql.queryExecutionListeners=kbench.QeTrace",
                     "-Dspark.sql.streaming.streamingQueryListeners=kbench.StreamTrace",
                     f"-Dkbench.trace.out={self.trace_file}"]
        self.log = os.path.join(run_dir, "daemon.log")
        with open(self.log, "w") as lf:
            self.proc = subprocess.Popen(
                common.java_cmd("graft.streaming.Daemon",
                                [root, conf, self.line_port, self.http_port], run_dir, props=props),
                env=common.java_env(run_dir), stdout=lf, stderr=subprocess.STDOUT)

    def wait_ready(self):
        deadline = time.time() + 150
        while "graft-daemon: lines on" not in open(self.log).read():
            if self.proc.poll() is not None or time.time() > deadline:
                self.kill()
                raise RuntimeError("daemon did not start:\n" + open(self.log).read()[-3000:])
            time.sleep(0.05)

    def write_bytes(self):
        io = dict(l.split(": ") for l in open(f"/proc/{self.proc.pid}/io").read().splitlines())
        return int(io["write_bytes"]) - int(io["cancelled_write_bytes"])

    def counters(self):
        try:
            return json.load(open(self.trace_file))
        except (OSError, ValueError):
            return {}

    def kill(self):
        """The lanes end with the daemon idle and every point on disk, so the
        graceful stop's final flush (10-20 s of Spark jobs) is skipped."""
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


class Http:
    """One keep-alive HTTP connection to the daemon."""

    def __init__(self, port):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)

    def get(self, path, params):
        url = path + "?" + urllib.parse.urlencode(params)
        t0 = time.perf_counter()
        try:
            self.conn.request("GET", url)
            r = self.conn.getresponse()
            body = r.read()
            status = r.status
        except (OSError, http.client.HTTPException):
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            status, body = 0, b""
        ms = (time.perf_counter() - t0) * 1000.0
        try:
            data = json.loads(body) if status == 200 else None
        except ValueError:
            data = None
        return status, data, ms


def close_enough(a, b):
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def first_diff(got, want):
    if got is None:
        return "no response"
    if len(got) != len(want):
        return f"{len(got)} points, expected {len(want)}"
    bad = [(ts, v) for ts, v in got if ts not in want or not close_enough(v, want[ts])]
    if bad:
        ts, v = bad[0]
        return f"{len(bad)} of {len(got)} points differ, first at ts {ts}: {v} vs {want.get(ts)}"
    return None


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    return con


def parquet_list(path):
    """The committed Parquet files of a table: no staging (`_`) or hidden
    (`.`) directories, which hold in-flight writes."""
    files = [f for f in common.files_under(path)
             if not any(part.startswith(("_", ".")) for part in os.path.relpath(f, path).split(os.sep))]
    return "[" + ",".join(f"'{f}'" for f in sorted(files)) + "]" if files else None


def table_rows(con, *paths):
    """(metric, ts) -> value over the given tables, last write wins by arrival."""
    lists = [parquet_list(p) for p in paths]
    parts = [f"SELECT metric, ts, value, arrival FROM read_parquet({l}, union_by_name=true)" for l in lists if l]
    if not parts:
        return {}
    return {(m, t): v for m, t, v in con.execute(
        f"SELECT metric, ts, arg_max(value, arrival) FROM ({' UNION ALL '.join(parts)}) GROUP BY metric, ts"
    ).fetchall()}


def hot_rows(root):
    """Rows in every hot table; the daemon may be swapping one meanwhile."""
    for _ in range(3):
        lists = [parquet_list(os.path.join(root, s, "hot")) for s in os.listdir(root)
                 if os.path.isdir(os.path.join(root, s, "hot"))]
        try:
            con = duck()
            return sum(con.execute(f"SELECT count(*) FROM read_parquet({l}, union_by_name=true)").fetchone()[0]
                       for l in lists if l)
        except Exception:  # a file went away under the read: list again
            time.sleep(0.2)
    return -1


def catalog_names(con, root):
    lst = parquet_list(os.path.join(root, "catalog"))
    return {r[0] for r in con.execute(f"SELECT metric FROM read_parquet({lst})").fetchall()}


def spool_files(root):
    """Journal files the file source consumed: one `path` entry each in
    the checkpoint's source log."""
    n = 0
    for d, _, fs in os.walk(os.path.join(root, "_checkpoint", "sources")):
        for f in fs:
            if not f.startswith("."):
                n += open(os.path.join(d, f), errors="replace").read().count('"path"')
    return n


def write_points(path, rows):
    with open(path, "w") as f:
        f.write("".join(f"{m},{t},{v!r}\n" for m, t, v in rows))


def preload_store(root, catalog, tables, now):
    """Lay down a store before the daemon starts, in the layout the daemon
    reads: `catalog/` (metric, schema_name, created_ts) and, per schema,
    `level_<i>/` and `hot/` tables of (metric, ts, value, arrival) split
    into `pday=<day>` partitions. `tables` maps (schema, table) to rows of
    (metric, ts, value); arrival is the ingest's, the timestamp in ns."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(os.path.join(root, "catalog"))
    pq.write_table(pa.table({"metric": [m for m, _ in catalog], "schema_name": [s for _, s in catalog],
                             "created_ts": [now] * len(catalog)}),
                   os.path.join(root, "catalog", "part-00000.parquet"))
    for (schema, table), rows in tables.items():
        days = {}
        for r in rows:
            days.setdefault(r[1] // 86400, []).append(r)
        for day, rs in days.items():
            d = os.path.join(root, schema, table, f"pday={day}")
            os.makedirs(d)
            pq.write_table(pa.table({"metric": [r[0] for r in rs], "ts": [r[1] for r in rs],
                                     "value": [float(r[2]) for r in rs],
                                     "arrival": [r[1] * 1000000000 for r in rs]}),
                           os.path.join(d, "part-00000.parquet"))


def layer_diff(before, after):
    return {k: v - before.get(k, 0.0) for k, v in after.items()}


# --------------------------------------------------------------------------
# ingest_catchup


class IngestInput:
    """24 series (12 per schema), each with 2400 one-second points that are
    already past the flush boundary (stragglers) and 10 in the hot window;
    one minute in eight travels as JSON-array frames; 60 malformed lines;
    a sentinel line closes each of the three connections."""
    SERIES = [f"bench.{s}.n{i:02d}" for s in ("sum", "avg") for i in range(12)]
    OLD = range(-2520, -120)
    HOT = range(-10, 0)
    PRELOAD_HOT = range(-38, -30)  # relative to the set-up base: flushed by the timed batch
    CONNS = 3
    SENTINELS = [f"bench.avg.zsentinel.c{c}" for c in range(CONNS)]

    def __init__(self, seed):
        self.v = Values(seed)
        rng = random.Random(f"malformed:{seed}")
        h = hashlib.sha256()
        self.conn_items = [[] for _ in range(self.CONNS)]  # (kind, payload with offsets)
        for ci in range(self.CONNS):
            mine = [m for i, m in enumerate(self.SERIES) if i % self.CONNS == ci]
            for off in list(self.OLD) + list(self.HOT):
                for m in mine:
                    if off % 60 == 0 and (off // 60) % 8 == 0 and off in self.OLD:
                        self.conn_items[ci].append(("frame", m, off))
                    elif not ((off // 60) % 8 == 0 and off in self.OLD):
                        self.conn_items[ci].append(("line", m, off))
        self.malformed = []
        forms = ["{m} notanumber {t}", "{m} 1.5", "{m} 1.5 {t} extra", "{m} 1.5 soon",
                 '[{{"metric": "{m}", "ts": {t}, "value": ', "{m} 1.5 1e400"]
        for k in range(60):
            self.malformed.append(rng.choice(forms).replace("{m}", f"bench.avg.bad{k:02d}"))
        for ci, items in enumerate(self.conn_items):
            h.update(repr([(k, m, o, self.v(m, o)) for k, m, o in items]).encode())
        h.update(repr(self.malformed).encode())
        self.hash = h.hexdigest()
        self.valid_points = len(self.SERIES) * (len(self.OLD) + len(self.HOT))

    def conn_payloads(self, base):
        """Per connection, the bytes to send, in 64 KiB chunks, with the
        malformed lines spread through them and the sentinel last."""
        out = []
        for ci, items in enumerate(self.conn_items):
            lines = []
            bad = self.malformed[ci::self.CONNS]
            every = max(1, len(items) // (len(bad) + 1))
            for j, (kind, m, off) in enumerate(items):
                if kind == "frame":
                    pts = [{"metric": m, "ts": base + o, "value": self.v(m, o)} for o in range(off, off + 60)]
                    lines.append(json.dumps(pts))
                else:
                    lines.append(f"{m} {self.v(m, off)!r} {base + off}")
                if j % every == every - 1 and bad:
                    lines.append(bad.pop().replace("{t}", str(base)))
            lines.append(f"{self.SENTINELS[ci]} {ci + 1}.0 {base}")
            data = ("\n".join(lines) + "\n").encode()
            out.append([data[i:i + 65536] for i in range(0, len(data), 65536)])
        return out

    def expected(self, base, prep_base):
        exp = {}
        for m in self.SERIES:
            for off in list(self.OLD) + list(self.HOT):
                exp[(m, base + off)] = self.v(m, off)
            for off in self.PRELOAD_HOT:
                exp[(m, prep_base + off)] = self.v(m, off)
        return exp


def ingest_catchup(args, t_start, run_dir, root, conf):
    inp = IngestInput(args.seed)
    prep_base = int(time.time())
    # set-up: every series (and the sentinels) registered, and a few hot slots
    # that the timed batch's watermark flush must move into level 0
    names = inp.SERIES + inp.SENTINELS
    schema_of = {m: "bench_sum" if ".sum." in m else "bench_avg" for m in names}
    preload_store(root, [(m, schema_of[m]) for m in names],
                  {(sch, "hot"): [(m, prep_base + off, inp.v(m, off)) for m in names if schema_of[m] == sch
                                  for off in inp.PRELOAD_HOT] for sch in ("bench_sum", "bench_avg")}, prep_base)
    daemon = Daemon(run_dir, root, conf, args.trace)
    try:
        daemon.wait_ready()
        # the whole backlog is spooled before the next 10 s trigger boundary,
        # so every run sees the same trigger phase and one micro-batch takes
        # it all; base is that boundary, so the straggler range ends on a
        # level-1 boundary and the cascade leaves no tail of it behind
        base = int((time.time() + 2.5) // (2 * TRIGGER_S) + 1) * 2 * TRIGGER_S
        payloads = inp.conn_payloads(base)
        socks = [socket.create_connection(("127.0.0.1", daemon.line_port)) for _ in payloads]
        http_c = Http(daemon.http_port)
        ready = time.time()  # set-up ends here; the wait for the trigger phase is idle
        time.sleep(max(0.0, base - 1.5 - time.time()))
        before = daemon.counters()
        wb0 = daemon.write_bytes()
        t0 = time.time()
        sent_at = []  # (connection, time the chunk was handed to the socket)
        for j in range(max(len(p) for p in payloads)):
            for ci, chunks in enumerate(payloads):
                if j < len(chunks):
                    socks[ci].sendall(chunks[j])
                    sent_at.append((ci, time.time()))
        for s in socks:
            s.close()
        send_s = time.time() - t0
        # readable: each connection's sentinel answers /query, and the
        # maintenance tick that batch triggers has cascaded the stragglers
        seen = {}
        dirty = [os.path.join(root, s, "_dirty", "level_0") for s in ("bench_sum", "bench_avg")]

        def cascaded(path):  # the dirty window no longer starts at the stragglers
            try:
                return int(open(path).read().split()[0]) > base + inp.OLD[0]
            except (OSError, IndexError, ValueError):
                return True

        deadline = time.time() + 150
        while len(seen) < inp.CONNS or not all(cascaded(d) for d in dirty):
            if time.time() > deadline:
                raise RuntimeError("backlog not readable within 150 s")
            for ci in range(inp.CONNS):
                if ci not in seen:
                    st, data, _ = http_c.get("/query", {"metric": inp.SENTINELS[ci]})
                    if st == 200 and any(ts == base for ts, _ in data["datapoints"]):
                        seen[ci] = time.time()
            time.sleep(0.05)
        wall = time.time() - t0
        write_bytes = daemon.write_bytes() - wb0
        time.sleep(0.5 if args.trace else 0.0)  # the daemon's trace file lags by up to 200 ms
        after = daemon.counters()
        latency = [(seen[ci] - t) * 1000.0 for ci, t in sent_at]
        # every valid point reads back over HTTP with its value: one render
        # per schema of every series over the whole backlog
        t_timed = time.time()
        exp = inp.expected(base, prep_base)
        lo = base + inp.OLD[0] - 60
        read_bad, read_diffs = 0, []
        for schema in ("sum", "avg"):
            ms = [m for m in inp.SERIES if f".{schema}." in m]
            st, data, _ = http_c.get("/render", {"target": f"bench.{schema}.n*", "from": lo, "until": base + 1})
            got = {d["target"]: d["datapoints"] for d in data} if st == 200 else {}
            for m in ms:
                why = first_diff(got.get(m), {t: exp.get((m, t)) for t in range(lo, base + 1)})
                if why:
                    read_bad += sum(1 for (mm, _t) in exp if mm == m)
                    read_diffs.append(f"{m}: {why}")
        hot_left = hot_rows(root) if args.trace else 0
        t_read = time.time()
    finally:
        daemon.kill()
    t_kill = time.time()
    checks = ingest_store_checks(duck(), root, exp, inp)
    info = {"input_hash": inp.hash, "valid_points": inp.valid_points, "send_s": round(send_s, 4),
            "catchup_s": round(wall, 4), "ingest_pts_per_s": round(inp.valid_points / wall, 1),
            "ingest_write_bytes_per_point": round(write_bytes / inp.valid_points, 2),
            "store_bytes_per_point": round(common.bytes_under(root) / len(exp), 2),
            "read_failed_points": read_bad, "read_diffs": read_diffs[:3], **checks,
            "phases_s": {"read_check": round(t_read - t_timed, 2), "kill": round(t_kill - t_read, 2),
                         "store_check": round(time.time() - t_kill, 2)}}
    e2e = {"setup_s": (ready - t_start - args.build_s, "s"),
           "throughput_per_s": (inp.valid_points / wall, "op/s"),
           "latency_p50_ms": (common.median(latency), "ms")}
    layers = {}
    if args.trace:
        layers = layer_diff(before, after)
        layers.update({
            "daemon.send_s": send_s, "daemon.spool_files": spool_files(root),
            "daemon.write_bytes_per_point": write_bytes / inp.valid_points,
            "store.bytes_per_point": common.bytes_under(root) / len(exp),
            "store.data_files": len(common.files_under(root)), "hot.rows": hot_left,
            "spark.core_busy": layers.get("spark.executor_run_ms", 0.0) / (wall * 1000.0 * os.cpu_count())})
        layers.update(replay_ingest(run_dir, conf, inp, base))
    return inp.valid_points, read_bad, e2e, layers, info


def ingest_store_checks(con, root, exp, inp):
    """An independent read of the store's Parquet files once the daemon is
    gone: each level and the hot table, last write wins by arrival."""
    l0 = {k: v for s in ("bench_sum", "bench_avg")
          for k, v in table_rows(con, os.path.join(root, s, "level_0"), os.path.join(root, s, "hot")).items()
          if k[0] in inp.SERIES}
    wrong0 = sum(1 for k, v in exp.items() if not close_enough(l0.get(k), v)) + \
        sum(1 for k in l0 if k not in exp)
    l1_checked = l1_wrong = 0
    sum_l0 = sum_l1 = 0.0
    for schema, agg in (("bench_sum", sum), ("bench_avg", lambda xs: sum(xs) / len(xs))):
        for (m, t), v in table_rows(con, os.path.join(root, schema, "level_1")).items():
            subs = [exp.get((m, t + i)) for i in range(10)]
            if any(x is None for x in subs):
                continue  # a window the generator did not fill: not fully propagated
            l1_checked += 1
            if not close_enough(v, agg(subs)):
                l1_wrong += 1
            if schema == "bench_sum":
                sum_l1 += v
                sum_l0 += sum(l0.get((m, t + i), 0.0) for i in range(10))
    names = catalog_names(con, root)
    bad_names = sorted(n for n in names if ".bad" in n)
    missing = sorted(set(inp.SERIES) - names)
    ok = (wrong0 == 0 and l1_checked > 0 and l1_wrong == 0 and close_enough(sum_l0, sum_l1)
          and not bad_names and not missing)
    return {"checks_ok": ok, "level0_wrong": wrong0, "level1_checked": l1_checked,
            "level1_wrong": l1_wrong, "sum_level0": sum_l0, "sum_level1": sum_l1,
            "malformed_series_created": bad_names, "series_missing": missing}


def replay_ingest(run_dir, conf, inp, base):
    rroot = common.fresh_dir(os.path.join(run_dir, "replay_store"))
    lines_path = os.path.join(run_dir, "replay_lines.txt")
    with open(lines_path, "wb") as f:
        for chunks in inp.conn_payloads(base):
            f.write(b"".join(chunks))
    write_points(os.path.join(run_dir, "replay_series.csv"), [(m, base - 3600, 0.0) for m in inp.SERIES])
    out = common.run_java("kbench.Replay", ["ingest", rroot, conf, os.path.join(run_dir, "replay_series.csv"),
                                            lines_path, base + 5, run_dir], run_dir, "replay.log", xmx="3g")
    return json.loads(out)


# --------------------------------------------------------------------------
# dashboard_mixed


class DashInput:
    """90 series: 4 groups of 10 per schema plus 10 tagged `bench.avg.cpu`
    series. Level 0 holds [B-600, B-40) at 1 s, the hot cache [B-40, B),
    level 1 the cascade of level 0 plus [B-7200, B-3600) written at 10 s
    directly; [B-3600, B-600) is empty. One series in five misses every
    minute m with m % 7 == 3. Eight `bench.live` series take one point per
    second at the current time. The benchmark lays the history down itself;
    the program's cascade is checked on ingest_catchup."""
    GROUPS, PER_GROUP = 4, 10
    L0 = range(-600, -40)
    HOT = range(-40, 0)
    L1 = range(-7200, -3600, 10)
    W0 = (-300, 0)          # level-0 window, reaches into the hot range
    W1 = (-7200, -300)      # level-1 window, over the gap and the cascade

    def __init__(self, seed):
        self.v = Values(seed)
        self.series = [f"bench.{s}.g{g}.s{i:02d}" for s in ("sum", "avg")
                       for g in range(self.GROUPS) for i in range(self.PER_GROUP)]
        self.series += [f"bench.avg.cpu;dc={'east' if i % 2 == 0 else 'west'};host=h{i:02d}" for i in range(10)]
        self.gapped = {m for i, m in enumerate(self.series) if i % 5 == 2}
        self.live = [f"bench.live.s{i}" for i in range(8)]
        self.probe = self.live[0]
        h = hashlib.sha256()
        h.update(repr([(m, self.v(m, 0), self.v(m, 1), m in self.gapped) for m in self.series]).encode())
        h.update(repr(self.requests(0)).encode())
        self.hash = h.hexdigest()

    def l0(self, m, off):
        if m in self.gapped and (off // 60) % 7 == 3:
            return None
        return self.v(m, off) if self.L0.start <= off < 0 else None

    def l1(self, m, off):
        if self.L0.start <= off < self.L0.stop:
            subs = [self.l0(m, off + i) for i in range(10)]
            if subs[0] is None:
                return None
            return sum(subs) if ".sum." in m else sum(subs) / 10.0
        if self.L1.start <= off < self.L1.stop:
            return None if (m in self.gapped and (off // 60) % 7 == 3) else self.v(m, off)
        return None

    @staticmethod
    def schema_of(m):
        return "bench_" + m.split(".")[1]

    def tables(self, base):
        """The preloaded store: level 0, the hot cache, and level 1 holding
        both the cascade of level 0 and the older direct history."""
        out = {}
        for m in self.series:
            s = self.schema_of(m)
            for table, offs, f in (("level_0", self.L0, self.l0), ("hot", self.HOT, self.l0),
                                   ("level_1", range(self.L0.start, self.L0.stop, 10), self.l1),
                                   ("level_1", self.L1, self.l1)):
                out.setdefault((s, table), []).extend(
                    (m, base + o, f(m, o)) for o in offs if f(m, o) is not None)
        return out

    def requests(self, base):
        """One dashboard round: (kind, target, from, until)."""
        w0 = (base + self.W0[0], base + self.W0[1])
        w1 = (base + self.W1[0], base + self.W1[1])
        return [
            ("render", "bench.avg.g1.s02", *w0),
            ("render", "sumSeries(bench.sum.g2.*)", *w1),
            ("render", 'groupByNode(bench.sum.*.s0[0-4],2,"sum")', *w0),
            ("fetch", "bench.sum.g3.s07", *w0),
            ("render", "movingAverage(bench.avg.g3.s0[5-9],10)", *w0),
            ("render", "highestAverage(bench.avg.g2.*,3)", *w1),
            ("render", "asPercent(bench.sum.g1.s01,sumSeries(bench.sum.g1.*))", *w0),
            ("render", 'seriesByTag("name=bench.avg.cpu","dc=east")', *w0),
        ]

    def expected(self, req, base):
        """The answer computed from value(): a list of (name or None, {ts: v})."""
        kind, target, frm, until = req
        lo, hi = frm - base, until - base
        step = 1 if lo >= -3600 else 10
        offs = list(range(lo, hi, step))
        get = self.l0 if step == 1 else self.l1

        def series(m):
            return {base + o: get(m, o) for o in offs}

        def match(prefix, pred=lambda m: True):
            return [m for m in self.series if m.startswith(prefix) and ";" not in m and pred(m)]

        def sum_of(ms):
            out = {}
            for o in offs:
                vals = [get(m, o) for m in ms if get(m, o) is not None]
                out[base + o] = sum(vals) if vals else None
            return out

        if kind == "fetch" or target == "bench.avg.g1.s02":
            return [(target, series(target))]
        if target.startswith("sumSeries"):
            return [(None, sum_of(match("bench.sum.g2.")))]
        if target.startswith("groupByNode"):
            return [(f"g{g}", sum_of(match(f"bench.sum.g{g}.s0", lambda m: m[-1] in "01234")))
                    for g in range(self.GROUPS)]
        if target.startswith("movingAverage"):
            out = []
            for m in match("bench.avg.g3.s0", lambda m: m[-1] in "56789"):
                pts = {}
                for o in offs:  # a partial window at the start of the range, no bootstrap
                    w = [self.l0(m, o - k) for k in range(10) if o - k >= lo and self.l0(m, o - k) is not None]
                    pts[base + o] = sum(w) / len(w) if w else None
                out.append((None, pts))
            return out
        if target.startswith("highestAverage"):
            def avg(m):
                xs = [x for x in series(m).values() if x is not None]
                return sum(xs) / len(xs)
            top = sorted(match("bench.avg.g2."), key=avg, reverse=True)[:3]
            return [(m, series(m)) for m in sorted(top)]
        if target.startswith("asPercent"):
            a, tot = series("bench.sum.g1.s01"), sum_of(match("bench.sum.g1."))
            return [(None, {t: (None if a[t] is None or not tot[t] else a[t] / tot[t] * 100.0) for t in a})]
        if target.startswith("seriesByTag"):
            ms = sorted(m for m in self.series if m.startswith("bench.avg.cpu;dc=east;"))
            return [(m, series(m)) for m in ms]
        raise ValueError(target)


def response_diff(kind, data, want):
    """None when a /render or /fetch answer equals the expected series."""
    if data is None:
        return "no answer"
    if kind == "fetch":
        return first_diff(data["datapoints"], want[0][1])
    if len(data) != len(want):
        return f"{len(data)} series, expected {len(want)}"
    for d, (name, pts) in zip(data, want):
        if name is not None and d["target"] != name:
            return f"series {d['target']}, expected {name}"
        why = first_diff(d["datapoints"], pts)
        if why:
            return f"{d['target']}: {why}"
    return None


class LiveWriter(threading.Thread):
    """Open loop: at every second, one point per live series at that second,
    on one held-open connection; between sends it polls /query for the
    probe series' recent points (freshness probes ride in the stream)."""

    def __init__(self, inp, daemon, base):
        super().__init__(daemon=True)
        self.inp, self.base = inp, base
        self.sock = socket.create_connection(("127.0.0.1", daemon.line_port))
        self.http = Http(daemon.http_port)
        self.stop_flag = threading.Event()
        self.lateness_ms = []
        self.sent = {}      # probe ts -> (scheduled send time, value)
        self.fresh = {}     # probe ts -> freshness ms
        self.probe_bad = 0

    def run(self):
        nxt = int(time.time()) + 1
        while not self.stop_flag.is_set():
            if time.time() < nxt - 0.3:
                self.poll()
            time.sleep(max(0.0, nxt - time.time()))
            late = (time.time() - nxt) * 1000.0
            off = nxt - self.base
            self.sock.sendall("".join(f"{m} {self.inp.v(m, off)!r} {nxt}\n" for m in self.inp.live).encode())
            self.lateness_ms.append(late)
            self.sent[nxt] = (nxt, self.inp.v(self.inp.probe, off))
            nxt += 1
        self.sock.close()

    def poll(self):
        pending = [t for t in self.sent if t not in self.fresh and time.time() - t < 60]
        if not pending:
            return
        st, data, _ = self.http.get("/query", {"metric": self.inp.probe})
        if st != 200:
            return
        got = {ts: v for ts, v in data["datapoints"]}
        now = time.time()
        for t in pending:
            if t in got:
                sched, val = self.sent[t]
                self.fresh[t] = (now - sched) * 1000.0
                if not close_enough(got[t], val):
                    self.probe_bad += 1


def dashboard_mixed(args, t_start, run_dir, root, conf):
    inp = DashInput(args.seed)
    base = int(time.time()) // 10 * 10
    preload_store(root, [(m, inp.schema_of(m)) for m in inp.series + inp.live], inp.tables(base), base)
    t_inputs = time.time()
    daemon = Daemon(run_dir, root, conf, args.trace)
    reqs = inp.requests(base)
    want = [inp.expected(r, base) for r in reqs]
    results = []  # (kind, ms, ok)
    by_target = []  # (target, ms)
    lock = threading.Lock()
    writer = None
    try:
        daemon.wait_ready()
        t_ready = time.time()
        # the live stream starts with the set-up, so its first (cold)
        # micro-batch and every target's first (cold) render land there
        writer = LiveWriter(inp, daemon, base)
        writer.start()
        diffs = []
        ws = [threading.Thread(target=warm_up, args=(daemon, reqs[k::N_CLIENTS], want[k::N_CLIENTS], diffs))
              for k in range(N_CLIENTS)]
        for w in ws:
            w.start()
        for w in ws:
            w.join()
        warm_bad = len(diffs)
        t_warm = time.time()
        # timing starts as a micro-batch commits: the next one starts at
        # once, so every run's timed region sees the same batch phase
        commits = os.path.join(root, "_checkpoint", "commits")
        n0 = batch_commits(commits)
        deadline = time.time() + 90
        while batch_commits(commits) == n0 and time.time() < deadline:
            time.sleep(0.02)
        before = daemon.counters()
        wb0 = daemon.write_bytes()
        t0 = time.time()
        deadline = t0 + args.seconds

        def client(k):  # closed loop over the round, rotated per client
            h = Http(daemon.http_port)
            i = k * 4
            while time.time() < deadline:
                r, w = reqs[i % len(reqs)], want[i % len(reqs)]
                i += 1
                st, data, ms = h.get("/" + r[0], params_of(r))
                why = f"status {st}" if st != 200 else response_diff(r[0], data, w)
                with lock:
                    results.append((r[0], ms, why is None))
                    by_target.append((r[1], ms))
                    if why:
                        diffs.append(f"{r[1]}: {why}")
        clients = [threading.Thread(target=client, args=(k,)) for k in range(N_CLIENTS)]
        for c in clients:
            c.start()
        for c in clients:
            c.join()
        wall = time.time() - t0
        time.sleep(0.5 if args.trace else 0.0)  # the daemon's trace file lags by up to 200 ms
        after = daemon.counters()
        write_bytes = daemon.write_bytes() - wb0
        hot_left = hot_rows(root) if args.trace else 0
        writer.stop_flag.set()
        writer.join(timeout=10)
    finally:
        if writer:
            writer.stop_flag.set()
        daemon.kill()
    renders = [ms for k, ms, ok in results if k == "render"]
    fetches = [ms for k, ms, ok in results if k == "fetch"]
    # a probe is an operation once it answers; probes still in flight when
    # the daemon stops (freshness is seconds) are reported, not counted
    probes = sorted(writer.fresh)
    pending = sum(1 for t in writer.sent if t not in writer.fresh)
    fresh = [writer.fresh[t] for t in probes]
    failed = sum(1 for _, _, ok in results if not ok) + writer.probe_bad
    attempted = len(results) + len(probes)
    info = {"input_hash": inp.hash, "renders": len(renders), "fetches": len(fetches), "probes": len(probes), "probes_pending": pending,
            "warmup_failed": warm_bad, "diffs": diffs[:4],
            "phases_s": {"inputs": round(t_inputs - t_start - args.build_s, 2), "daemon": round(t_ready - t_inputs, 2),
                         "warmup": round(t_warm - t_ready, 2), "batch_phase": round(t0 - t_warm, 2)}, "render_p50_ms": round(common.median(renders), 3),
            "render_p90_ms": round(common.quantile(renders, 0.9), 3),
            "fetch_p50_ms": round(common.median(fetches), 3) if fetches else None,
            "freshness_p50_ms": round(common.median(fresh), 1) if fresh else None,
            "gen_lateness_p50_ms": round(common.median(writer.lateness_ms), 3) if writer.lateness_ms else None,
            "checks_ok": warm_bad == 0}
    # closed loop: each client's request rate is 1 / its mean latency, which
    # does not quantize the way a count of a few requests in a window does
    e2e = {"setup_s": (t0 - t_start - args.build_s, "s"),
           "throughput_per_s": (N_CLIENTS * 1000.0 * len(results) / sum(ms for _, ms, _ in results), "op/s"),
           "latency_p50_ms": (common.median(renders), "ms")}
    layers = {}
    if args.trace:
        layers = layer_diff(before, after)
        layers.update({
            "daemon.spool_files": spool_files(root), "store.data_files": len(common.files_under(root)),
            "daemon.write_bytes_per_point": write_bytes / max(1.0, wall * len(inp.live)),
            "hot.rows": hot_left, "gen.lateness_ms": common.median(writer.lateness_ms),
            "stream.freshness_ms": common.median(fresh) if fresh else 0.0,
            "http.fetch_p50_ms": common.median(fetches) if fetches else 0.0,
            "spark.core_busy": layers.get("spark.executor_run_ms", 0.0) / (wall * 1000.0 * os.cpu_count())})
        n_req = max(1, len(results))
        for k in ("spark.jobs", "spark.tasks"):
            layers[k + "_per_request"] = layers.get(k, 0.0) / n_req
        with open(os.path.join(run_dir, "replay_requests.tsv"), "w") as f:
            f.write("".join("\t".join(map(str, r)) + "\n" for r in reqs))
        rep = json.loads(common.run_java(
            "kbench.Replay", ["render", root, conf, os.path.join(run_dir, "replay_requests.tsv"),
                              int(time.time()), run_dir], run_dir, "replay.log", xmx="3g"))
        layers.update({k: v for k, v in rep.items() if not k.startswith("inproc:")})
        # client latency minus the in-process time of the same request
        over = [common.median([ms for t, ms in by_target if t == r[1]]) - rep[f"inproc:{r[1]}"]
                for r in reqs if any(t == r[1] for t, _ in by_target)]
        layers["http.overhead_ms"] = common.median(over) if over else 0.0
    return attempted, failed, e2e, layers, info


def batch_commits(path):
    try:
        return sum(1 for f in os.listdir(path) if not f.startswith("."))
    except OSError:
        return 0


def warm_up(daemon, reqs, want, diffs):
    h = Http(daemon.http_port)
    for r, w in zip(reqs, want):
        st, data, _ = h.get("/" + r[0], params_of(r))
        why = f"status {st}" if st != 200 else response_diff(r[0], data, w)
        if why:
            diffs.append(f"{r[1]}: {why}")


def params_of(r):
    kind, target, frm, until = r
    return ({"metric": target} if kind == "fetch" else {"target": target}) | {"from": frm, "until": until}


def run(args, t_start):
    run_dir = common.fresh_dir(os.path.join(common.OUT, args.workload))
    root = os.path.join(run_dir, "store")
    conf = os.path.join(run_dir, "storage-schemas.conf")
    if args.workload == "ingest_catchup":
        schemas = [("sum", "sum", "6h", "30s"), ("avg", "average", "6h", "30s")]
    else:
        # the dashboard's history never leaves the hot cache during a run; the
        # live series have a schema, and so level tables, of their own
        schemas = [("sum", "sum", "1h", "10min"), ("avg", "average", "1h", "10min"),
                   ("live", "average", "1h", "30s")]
    with open(conf, "w") as f:
        f.write("\n".join(SCHEMA.format(name=n, method=m, l0=l0, cache=c) for n, m, l0, c in schemas))
    lane = ingest_catchup if args.workload == "ingest_catchup" else dashboard_mixed
    return lane(args, t_start, run_dir, root, conf)
