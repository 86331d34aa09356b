"""The two CDC workloads: ``cdc_backfill`` (closed loop, drains of a
fixed backlog) and ``cdc_tail`` (open loop, a generator appending to
the growing tail segment). Both run ``control.tasks.TaskManager`` cdc
tasks over ``binlog_envelope_factory`` into the ``topic_files`` sink."""

from __future__ import annotations

import bisect
import glob
import json
import os
import shutil
import threading
import time

from perfbench import common, gen

TASK_DB = ("shop",)

#: cdc_backfill backlog: segments x txns x rows per txn = 81,920
#: changes. A batch costs ~1.9 s plus ~0.3 s per segment it reads
#: whatever its size (4 cores), so few large segments, as a real binlog
#: has, leave the per-row layers about half of a drain
BACKFILL = {"segments": 4, "txns_per_segment": 80, "rows_per_txn": 256,
            "rows_per_stmt": 16}
#: timed drains per run at least; the first runs colder, and the
#: median of three leaves it out
MIN_DRAINS = 3
#: cdc_tail: txn rate, txn size and the segment rotation size
TAIL = {"txn_per_s": 200, "rows_per_txn": 2, "rows_per_stmt": 2,
        "segment_bytes": 64 * 1024, "warm_txns": 40}
#: seconds of open-loop load before the measured window of cdc_tail;
#: their transactions are checked but not timed
TAIL_RAMP_S = 5.0
#: a tail run whose last third is this much slower than its first
#: third has a growing backlog and counts as failed
TREND_LIMIT = 1.5


def _register(spark) -> None:
    from galaxy_spark.sinks_topic import TopicFilesDataSource

    spark.dataSource.register(TopicFilesDataSource)


def _spec(task_id: str, topics: str):
    from galaxy_spark.control.tasks import TaskSpec

    return TaskSpec(task_id=task_id, databases=TASK_DB,
                    columns=gen.COLUMNS, sink_kind="topic_files",
                    sink_options={"path": topics})


def _manager(spark, state: str, seg_dir: str):
    from galaxy_spark.control.tasks import TaskManager
    from galaxy_spark.sources.binlog_source import binlog_envelope_factory

    return TaskManager(spark, state, binlog_envelope_factory(seg_dir))


def topic_files(topics: str) -> set[str]:
    """Every published file under a topic_files sink directory."""
    return set(glob.glob(os.path.join(topics, "*", "*.jsonl")))


def check_topics(files, task_id: str, g: gen.ChangeGen) -> int:
    """Exactly-once check of published topic ``files`` against the
    generator: every shop.orders change with its before/after images,
    the DLQ topic holding exactly the arity-mismatched rows, nothing
    from the excluded database. Returns the number of rows missing,
    duplicated, wrong or misrouted."""
    import duckdb
    import pyarrow as pa

    files = sorted(files)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if not files:
        return len(g.expected) + len(g.dlq)
    con.execute(
        "CREATE TABLE got AS SELECT split_part(filename, '/', -2) AS "
        "topic, key, value FROM read_json(?, format='newline_delimited',"
        " columns={'key': 'VARCHAR', 'value': 'VARCHAR'}, "
        "filename=true)", [files])
    good = f"'{task_id}.shop.orders'"
    dlq = f"'{task_id}.deadletter.shop.orders'"
    cols = {"action": [e[0] for e in g.expected]}
    for side, idx in (("b", 1), ("a", 2)):
        for j, c in enumerate(gen.COLUMNS):
            cols[f"{side}_{c}"] = [e[idx][j] if e[idx] else None
                                   for e in g.expected]
    exp = pa.table(cols)
    exp_dlq = pa.table({"action": [d[0] for d in g.dlq],
                        **{f"c{j}": [d[1][j] for d in g.dlq]
                           for j in range(3)}})
    con.register("exp", exp)
    con.register("exp_dlq", exp_dlq)
    sel = ", ".join(
        [f"json_extract_string(value, '$.{s}.{c}')"
         for s in ("before", "after") for c in gen.COLUMNS])
    con.execute(f"CREATE VIEW got_good AS SELECT json_extract_string("
                f"value, '$.action'), {sel} FROM got WHERE topic = {good}")
    con.execute(
        "CREATE VIEW got_dlq AS SELECT json_extract_string(value, "
        "'$.action'), " + ", ".join(
            f"json_extract_string(value, '$.org_row[0][{j}]')"
            for j in range(3)) + f" FROM got WHERE topic = {dlq} AND "
        "json_array_length(value, '$.org_row[0]') = 3")

    def diff(a: str, b: str) -> int:
        return con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} "
                           f"EXCEPT ALL SELECT * FROM {b})").fetchone()[0]

    bad = (diff("got_good", "exp") + diff("exp", "got_good")
           + diff("got_dlq", "exp_dlq") + diff("exp_dlq", "got_dlq"))
    bad += con.execute(
        f"SELECT count(*) FROM got WHERE topic NOT IN ({good}, {dlq}) OR "
        f"key <> 'shop.orders' OR (topic = {dlq} AND json_array_length("
        "value, '$.org_row[0]') <> 3)").fetchone()[0]
    con.close()
    return bad


def _line_count(path: str) -> int:
    with open(path, "rb") as f:
        return f.read().count(b"\n")


# -- cdc_backfill ------------------------------------------------------

def _link_segments(src: str, dst: str, first: int) -> None:
    """Hard-link the segments of ``src`` into ``dst`` as the next
    segments in rotation order, numbered from ``first``. Each link
    appears whole, and in order, as a rotated segment does."""
    for k, name in enumerate(sorted(os.listdir(src))):
        os.link(os.path.join(src, name),
                os.path.join(dst, f"binlog.{first + k:06d}.bin"))


def backfill(ctx) -> dict:
    backlog = os.path.join(ctx.tmp, "backlog")
    g = gen.binlog_backlog(backlog, ctx.seed, **BACKFILL)
    rows = g.seq
    warm = os.path.join(ctx.tmp, "warm")
    gen.binlog_backlog(warm, ctx.seed + 1, segments=BACKFILL["segments"],
                       txns_per_segment=2, rows_per_txn=256,
                       rows_per_stmt=16)
    spark = ctx.session()
    _register(spark)

    def setup_once(i: int):
        """Task creation on a fresh segment directory, ready once its
        warm-up segments are published."""
        seg_dir = os.path.join(ctx.tmp, f"segs{i}")
        topics = os.path.join(ctx.tmp, f"topics{i}")
        os.makedirs(seg_dir)
        _link_segments(warm, seg_dir, 1)
        mgr = _manager(spark, os.path.join(ctx.tmp, f"state{i}"), seg_dir)
        mgr.create_task(_spec("bf", topics))
        mgr.queries["bf"].processAllAvailable()
        return mgr, seg_dir, topics

    setups, (mgr, seg_dir, topics) = common.timed_setups(
        setup_once, lambda state: state[0].stop_task("bf"))
    q = mgr.queries["bf"]
    seen_files = topic_files(topics)
    next_seg = [BACKFILL["segments"] + 1]

    def drain() -> tuple[float, list[float], set[str]]:
        """Append the backlog to the running task's directory as its
        next segments and wait until it is published. Returns the
        drain time, each published row's time to visible (ms) and the
        files the drain published."""
        stamps: list[tuple[float, int]] = []
        t0 = time.perf_counter()
        poller = common.TopicPoller(
            topics, lambda p, t: stamps.append((t - t0, _line_count(p))))
        poller.seen = set(seen_files)
        poller.start()
        with ctx.tracer.span("drain"):
            _link_segments(backlog, seg_dir, next_seg[0])
            q.processAllAvailable()
        took = time.perf_counter() - t0
        poller.stop()
        next_seg[0] += BACKFILL["segments"]
        new = topic_files(topics) - seen_files
        seen_files.update(new)
        return took, [t * 1000 for t, n in stamps for _ in range(n)], new

    def measure() -> dict:
        """Timed drains until the time is up, at least MIN_DRAINS; each
        drain's new files are checked against the generator."""
        drains, lat, bad = [], [], 0
        t_end = time.perf_counter() + ctx.seconds
        while len(drains) < MIN_DRAINS or time.perf_counter() < t_end:
            took, d_lat, new = drain()
            drains.append(took)
            lat.extend(d_lat)
            bad += check_topics(new, "bf", g)
        ctx.tracer.streaming(q)
        ctx.tracer.cdc_after(spark, seg_dir, backlog, new)
        eps = rows / common.median(drains)
        return {"attempted": rows * len(drains), "failed": bad,
                "items_per_s": eps, "lat": lat,
                "named": {"cdc_eps": eps, "drains": len(drains),
                          "drain_s_p50": common.median(drains)}}

    res = ctx.measure(measure)
    mgr.stop_task("bf")
    res["named"].update({
        "backlog_rows": rows, "published_rows": len(g.expected) + len(g.dlq),
        "dlq_rows": len(g.dlq), "excluded_rows": g.excluded})
    res["setups"] = setups
    return res


# -- cdc_tail ----------------------------------------------------------

class TailState:
    """Per-transaction bookkeeping shared by the generator phases and
    the topic poller, indexed by transaction number."""

    def __init__(self, g: gen.ChangeGen) -> None:
        self.g = g
        self.due: list[float] = []
        self.late: list[float] = []
        self.first_seq: list[int] = []
        self.published: list[int] = []
        self.seen: list[int] = []
        self.visible: dict[int, float] = {}
        self.segments = 1          # segment 1 holds the warm-up

    def on_file(self, path: str, t: float) -> None:
        """Poller callback: count each row against its transaction; a
        transaction is visible once all its published rows are."""
        with open(path) as f:
            for line in f:
                v = json.loads(json.loads(line)["value"])
                img = v.get("after") or v.get("before")
                seq = int(img["id"] if img else v["org_row"][0][0])
                i = bisect.bisect_right(self.first_seq, seq) - 1
                if i < 0:
                    continue            # a warm-up transaction
                while len(self.seen) <= i:
                    self.seen.append(0)
                self.seen[i] += 1
                if self.seen[i] == self.published[i]:
                    self.visible[i] = t


class TailGenerator(threading.Thread):
    """Open-loop writer: transaction i of a phase is due at
    start + i / rate and is appended to the tail segment when due,
    whatever the pipeline is doing. Rotates to a new segment at a
    fixed size."""

    def __init__(self, seg_dir: str, st: TailState, rate: float,
                 seconds: float, segment_bytes: int) -> None:
        super().__init__(daemon=True)
        self.seg_dir, self.st, self.rate = seg_dir, st, rate
        self.n = int(rate * seconds)
        self.segment_bytes = segment_bytes
        self.t0 = 0.0

    def _open(self):
        st = self.st
        st.segments += 1
        w = st.g.new_writer(st.segments)
        f = open(os.path.join(self.seg_dir,
                              f"binlog.{st.segments:06d}.bin"), "ab")
        f.write(w.bytes())
        f.flush()
        return w, f, len(w.out)

    def run(self) -> None:
        st = self.st
        w, f, done = self._open()
        self.t0 = time.perf_counter()
        try:
            for i in range(self.n):
                due = self.t0 + i / self.rate
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                if done >= self.segment_bytes:
                    f.close()
                    w, f, done = self._open()
                st.first_seq.append(st.g.seq + 1)
                st.published.append(st.g.txn(w))
                f.write(w.out[done:])
                f.flush()
                done = len(w.out)
                st.due.append(due)
                st.late.append(time.perf_counter() - due)
        finally:
            f.close()


def tail(ctx) -> dict:
    seg_dir = os.path.join(ctx.tmp, "tail")
    topics = os.path.join(ctx.tmp, "topics")
    spark = ctx.session()
    _register(spark)

    def setup_once(i: int):
        """Segment 1 holds a few warm-up transactions; the task is
        ready once they are published."""
        for d in (seg_dir, topics):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(seg_dir)
        g = gen.ChangeGen(ctx.seed, TAIL["rows_per_txn"],
                          TAIL["rows_per_stmt"])
        w = g.new_writer(1)
        for _ in range(TAIL["warm_txns"]):
            g.txn(w)
        with open(os.path.join(seg_dir, "binlog.000001.bin"), "wb") as f:
            f.write(w.bytes())
        mgr = _manager(spark, os.path.join(ctx.tmp, f"state{i}"), seg_dir)
        mgr.create_task(_spec("tail", topics))
        mgr.queries["tail"].processAllAvailable()
        return mgr, g

    def teardown(state) -> None:
        state[0].stop_task("tail")

    setups, (mgr, g) = common.timed_setups(setup_once, teardown)
    q = mgr.queries["tail"]
    st = TailState(g)
    poller = common.TopicPoller(topics, st.on_file)
    poller.start()

    def measure() -> dict:
        """One open-loop phase: a ramp, then --seconds of timed load;
        wait until every transaction of the phase is visible."""
        gt = TailGenerator(seg_dir, st, TAIL["txn_per_s"],
                           TAIL_RAMP_S + ctx.seconds, TAIL["segment_bytes"])
        lo = len(st.due) + int(TAIL_RAMP_S * TAIL["txn_per_s"])
        with ctx.tracer.span("tail"):
            gt.start()
            gt.join()
            hi = len(st.due)
            want = [i for i in range(lo, hi) if st.published[i]]
            deadline = time.perf_counter() + 60
            while (any(i not in st.visible for i in want) and q.isActive
                   and time.perf_counter() < deadline):
                time.sleep(0.02)
        lat = [(st.visible[i] - st.due[i]) * 1000 for i in want
               if i in st.visible]
        missing = len(want) - len(lat)
        third = len(lat) // 3
        trend = (common.median(lat[-third:]) / common.median(lat[:third])
                 if third else 1.0)
        failed = hi - lo if trend > TREND_LIMIT else missing
        last = max((st.visible[i] for i in want if i in st.visible),
                   default=float("nan"))
        ctx.tracer.streaming(q)
        late_p99 = common.pct(st.late[lo:hi], 99) * 1000
        return {"attempted": hi - lo, "failed": failed,
                "items_per_s": sum(st.published[i] for i in want)
                / (last - st.due[lo]),
                "lat": lat,
                "named": {"lat_p50_ms": common.pct(lat, 50),
                          "lat_p99_ms": common.pct(lat, 99),
                          "samples": len(lat),
                          "trend_last_over_first": trend},
                "layers": {"gen.late_p99_ms": late_p99}}

    res = ctx.measure(measure)
    poller.stop()
    mgr.stop_task("tail")
    bad = check_topics(topic_files(topics), "tail", g)
    res["failed"] += bad
    res["named"].update({"segments": st.segments,
                         "txn_per_s": TAIL["txn_per_s"],
                         "output_mismatches": bad})
    ctx.tracer.cdc_after(spark, seg_dir, seg_dir, topic_files(topics))
    res["setups"] = setups
    return res
