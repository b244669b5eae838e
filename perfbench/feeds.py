"""Seeded CDC feed generators and their expected sink state.

Each workload's feed is a directory of numbered segment files (one JSON
envelope per line) plus the pipeline's table declarations. The expected
final sink state is computed here from the generator's own ground truth
(last image per key, deletes removed, DDL applied with null-fill and
widening, transform projection/filter applied) and never from graft code.

Same (workload, seed, seconds) -> byte-identical feed and expected state.

Traffic parameters and where they come from:

- key skew: Zipf with exponent 0.99 on every table, YCSB's default
  zipfian constant (Cooper et al., "Benchmarking Cloud Serving Systems
  with YCSB", SoCC 2010);
- live-tail rate (800 events/s, kept in BENCHMARK.json): chosen under the
  measured catch-up capacity of the same single-table copy-on-write
  pipeline, which BENCHMARK.json states beside it;
- assumptions, with no published source behind them: the backlog table
  mix (0.2/0.4/0.15/0.25), the delete shares (15 % backlog, 10 % live
  tail), the Canal op mix (INSERT/UPDATE/UPDATE/DELETE), 1-4 rows per
  Canal message, and the snapshot-to-key-universe ratio (3000 of 9000
  keys per backlog table). They set how much work decode, re-reads, the
  copy-on-write rewrite and compaction get, so a gain measured here may
  not carry over to other traffic.
"""
import bisect
import hashlib
import json
import os
import random
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def gen_version():
    """Hash of this file: feeds cached under another version are rebuilt."""
    with open(os.path.join(HERE, "feeds.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def dumps(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=False)


class Zipf:
    """Rank sampler with P(rank k) proportional to 1/(k+1)^s over n keys,
    mapped through a seeded permutation so hot keys are spread over ids."""

    def __init__(self, rng, n, s):
        acc, self.cum = 0.0, []
        for k in range(n):
            acc += 1.0 / (k + 1) ** s
            self.cum.append(acc)
        self.perm = list(range(n))
        rng.shuffle(self.perm)
        self.rng = rng

    def draw(self):
        r = self.rng.random() * self.cum[-1]
        return self.perm[min(bisect.bisect_left(self.cum, r), len(self.cum) - 1)]


ZIPF_S = 0.99  # YCSB's zipfian constant


def quarter(rng, hi):
    """A double exactly representable in binary (multiple of 0.25)."""
    return rng.randrange(0, hi * 4) / 4.0


def write_segments(topic, segments, base_mtime):
    """Segment i is `seg-<i>.json` with mtime base+i seconds: Spark's file
    source orders discovery by mtime, so log order survives batching."""
    os.makedirs(topic, exist_ok=True)
    for i, lines in enumerate(segments):
        p = os.path.join(topic, "seg-%06d.json" % (i + 1))
        with open(p, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        os.utime(p, (base_mtime + i, base_mtime + i))


def chunk(lines, n):
    """Exactly n contiguous, near-equal segments."""
    return [lines[i * len(lines) // n:(i + 1) * len(lines) // n] for i in range(n)]


# Every workload publishes at least 100 segments, so freshness has a true
# p90 (ten samples beyond it).
BACKLOG_SEGMENTS = 104
SHARDED_SEGMENTS = 102

# ---------------------------------------------------------------- backlog

BACKLOG_TABLES = {  # table -> [(column, SQL type)]
    "customers": [("id", "BIGINT"), ("name", "VARCHAR(32)"), ("tier", "INT"),
                  ("balance", "DOUBLE")],
    "orders": [("id", "BIGINT"), ("customer_id", "BIGINT"), ("qty", "INT"),
               ("price", "DOUBLE"), ("status", "VARCHAR(16)")],
    "items": [("id", "BIGINT"), ("sku", "VARCHAR(24)"), ("stock", "INT")],
    "clicks": [("id", "BIGINT"), ("page", "VARCHAR(32)"), ("dwell", "INT")],
}

# transform rules on two of the four tables: (projection, filter, python twin)
BACKLOG_TRANSFORMS = {
    "customers": ("id, name, tier, balance, tier * 10 AS tier10", "tier > 1",
                  lambda r: dict(r, tier10=r["tier"] * 10) if r["tier"] > 1 else None),
    "orders": ("id, customer_id, qty, price, qty * 2 AS qty2", "qty >= 3",
               lambda r: {"id": r["id"], "customer_id": r["customer_id"],
                          "qty": r["qty"], "price": r["price"], "qty2": r["qty"] * 2}
               if r["qty"] >= 3 else None),
}

STATUSES = ["new", "paid", "shipped", "returned"]


def backlog_row(rng, table, key):
    if table == "customers":
        return {"id": key, "name": "c%d-%d" % (key, rng.randrange(1000)),
                "tier": rng.randrange(5), "balance": quarter(rng, 5000)}
    if table == "orders":
        return {"id": key, "customer_id": rng.randrange(100000), "qty": rng.randrange(1, 11),
                "price": quarter(rng, 300), "status": rng.choice(STATUSES)}
    if table == "items":
        return {"id": key, "sku": "sku-%d-%d" % (key, rng.randrange(100)),
                "stock": rng.randrange(500)}
    return {"id": key, "page": "/p/%d" % rng.randrange(2000), "dwell": rng.randrange(1, 600)}


def gen_backlog(rng, scale):
    tables = list(BACKLOG_TABLES)
    weights = [0.2, 0.4, 0.15, 0.25]
    universe = int(9000 * scale)
    snapshot = int(3000 * scale)
    changes = int(66000 * scale)
    zipf = {t: Zipf(rng, universe, ZIPF_S) for t in tables}
    state = {t: {} for t in tables}
    lines, ts = [], 0

    def emit(t, op, before, after):
        nonlocal ts
        ts += 1
        lines.append(dumps({"before": before, "after": after, "op": op, "ts_ms": ts,
                            "source": {"db": "db", "table": t}}))

    # snapshot phase: Debezium op "r" rows come first on the topic
    for t in tables:
        for key in rng.sample(range(universe), snapshot):
            row = backlog_row(rng, t, key)
            state[t][key] = row
            emit(t, "r", None, row)
    # change phase: c/u/d on Zipf-skewed keys
    cum = [sum(weights[:i + 1]) for i in range(len(weights))]
    for _ in range(changes):
        t = tables[bisect.bisect_left(cum, rng.random() * cum[-1])]
        key = zipf[t].draw()
        cur = state[t].get(key)
        if cur is None:
            row = backlog_row(rng, t, key)
            state[t][key] = row
            emit(t, "c", None, row)
        elif rng.random() < 0.15:
            del state[t][key]
            emit(t, "d", cur, None)
        else:
            row = backlog_row(rng, t, key)
            state[t][key] = row
            emit(t, "u", cur, row)
    segments = chunk(lines, BACKLOG_SEGMENTS)
    expected = {}
    for t in tables:
        rows = list(state[t].values())
        if t in BACKLOG_TRANSFORMS:
            rows = [x for x in map(BACKLOG_TRANSFORMS[t][2], rows) if x is not None]
        expected["db." + t] = rows
    ddl = {t: "CREATE TABLE %s (%s, PRIMARY KEY (id))"
           % (t, ", ".join("%s %s" % c for c in BACKLOG_TABLES[t])) for t in tables}
    transforms = [{"source-table": "db." + t, "projection": p, "filter": f}
                  for t, (p, f, _) in BACKLOG_TRANSFORMS.items()]
    spec = {
        "format": "debezium",
        "tables": {"db." + t: ddl[t] for t in tables},
        "transforms": transforms, "routes": [],
        "merge_on_read": True,
        # bounded micro-batches over the backlog: 8 batches of 13 segments
        "max_files_per_trigger": -(-len(segments) // 8),
        "trigger_ms": 0,
    }
    return segments, [len(x) for x in segments], expected, spec


# ---------------------------------------------------------------- sharded

SHARDS = 8
SHARD_COLS = [("id", "BIGINT"), ("qty", "INT"), ("price", "DOUBLE"), ("label", "VARCHAR(24)")]
SHARD_BATCHES = 4
# wire DDL at the head of batches 2..4: (shard, statement kind) per batch.
# A DDL statement that lands inside a batch leaves its shard only the rest
# of that batch; when those rows miss the sink's first bucket directory,
# the next copy-on-write merge reads the touched buckets with a stale
# schema and the query dies (INT64 qty read as int). At a batch head each
# altered shard's whole share of the batch (~375 rows) follows the DDL and
# rewrites every bucket, so that case is not exercised here.
SHARD_DDL = [[], [(0, "add"), (1, "widen")], [(2, "add"), (4, "add")],
             [(5, "widen"), (6, "add")]]


def gen_sharded(rng, scale):
    universe = int(1200 * scale)
    rows_total = int(12000 * scale)
    zipf = [Zipf(rng, universe, ZIPF_S) for _ in range(SHARDS)]
    state = [dict() for _ in range(SHARDS)]
    has_note = [False] * SHARDS
    wide = [False] * SHARDS
    per_batch = -(-SHARDED_SEGMENTS // SHARD_BATCHES)
    segments, seg_events = [], []

    def image(s, key):
        r = {"id": s * 10_000_000 + key,
             "qty": (3_000_000_000 if wide[s] else 0) + rng.randrange(1, 1000),
             "price": quarter(rng, 200), "label": "L%d" % rng.randrange(10000)}
        if has_note[s]:
            r["note"] = "n%d" % rng.randrange(100000)
        return r

    def message():
        """One Canal row-change message of 1-4 rows, or None when the drawn
        keys cannot take the drawn op."""
        s = rng.randrange(SHARDS)
        kind = rng.choice(["INSERT", "UPDATE", "UPDATE", "DELETE"])
        n = rng.randrange(1, 5)
        keys = set()
        for _ in range(n * 3):
            k = zipf[s].draw()
            alive = k in state[s]
            if (kind == "INSERT") != alive:
                keys.add(k)
            if len(keys) == n:
                break
        if not keys:
            return None
        data, old = [], []
        for k in sorted(keys):
            if kind == "INSERT":
                state[s][k] = image(s, k)
                data.append(state[s][k])
            elif kind == "UPDATE":
                old.append(state[s][k])
                state[s][k] = image(s, k)
                data.append(state[s][k])
            else:
                data.append(state[s].pop(k))
        return dumps({"old": old if kind == "UPDATE" else None, "data": data,
                      "type": kind, "isDdl": False, "database": "db",
                      "table": "shard_%d" % s, "pkNames": ["id"]}), len(data)

    rows = 0
    for b in range(SHARD_BATCHES):
        lines, line_rows = [], []
        for s, kind in SHARD_DDL[b]:
            sql = ("ALTER TABLE shard_%d ADD COLUMN note VARCHAR(32)" % s if kind == "add"
                   else "ALTER TABLE shard_%d MODIFY COLUMN qty BIGINT" % s)
            if kind == "add":
                has_note[s] = True
            else:
                wide[s] = True
            lines.append(dumps({"isDdl": True, "sql": sql, "database": "db",
                                "table": "shard_%d" % s, "type": "ALTER"}))
            line_rows.append(0)
        while rows < rows_total * (b + 1) // SHARD_BATCHES:
            m = message()
            if m:
                lines.append(m[0])
                line_rows.append(m[1])
                rows += m[1]
        nseg = min(per_batch, SHARDED_SEGMENTS - b * per_batch)
        segments += chunk(lines, nseg)
        seg_events += [sum(x) for x in chunk(line_rows, nseg)]
    merged = [r for shard in state for r in shard.values()]
    ddl = {"db.shard_%d" % s: "CREATE TABLE shard_%d (%s, PRIMARY KEY (id))"
           % (s, ", ".join("%s %s" % c for c in SHARD_COLS)) for s in range(SHARDS)}
    spec = {
        "format": "canal",
        "tables": ddl,
        "transforms": [],
        # regex route: every shard merges into one sink table
        "routes": [{"source-table": "db.shard_\\.*", "sink-table": "db.merged"}],
        "merge_on_read": False,
        # batch b is exactly the segments generated for it, DDL first
        "max_files_per_trigger": per_batch,
        "trigger_ms": 0,
    }
    return segments, seg_events, {"db.merged": merged}, spec


# --------------------------------------------------------------- live tail

LIVE_INTERVAL_MS = 80
LIVE_TRIGGER_MS = 2000
# the first 6 s of segments land while the first (cold) batches compile:
# they are published but left out of freshness
LIVE_WARMUP_SEGMENTS = 75
LIVE_COLS = [("id", "BIGINT"), ("val", "INT"), ("name", "VARCHAR(16)")]


def gen_live(rng, seconds, rate):
    per_seg = max(1, int(rate * LIVE_INTERVAL_MS / 1000))
    # `seconds` of counted segments after the warm-up
    nseg = LIVE_WARMUP_SEGMENTS + max(1, int(seconds * 1000 / LIVE_INTERVAL_MS))
    universe = 4000
    zipf = Zipf(rng, universe, ZIPF_S)
    state, ts, segments = {}, 0, []
    for _ in range(nseg):
        lines = []
        for _ in range(per_seg):
            key = zipf.draw()
            cur = state.get(key)
            ts += 1
            row = {"id": key, "val": rng.randrange(1 << 20), "name": "t%d" % rng.randrange(999)}
            if cur is None:
                state[key] = row
                env = {"before": None, "after": row, "op": "c"}
            elif rng.random() < 0.1:
                del state[key]
                env = {"before": cur, "after": None, "op": "d"}
            else:
                state[key] = row
                env = {"before": cur, "after": row, "op": "u"}
            env.update({"ts_ms": ts, "source": {"db": "db", "table": "ticks"}})
            lines.append(dumps(env))
        segments.append(lines)
    spec = {
        "format": "debezium",
        "tables": {"db.ticks": "CREATE TABLE ticks (%s, PRIMARY KEY (id))"
                   % ", ".join("%s %s" % c for c in LIVE_COLS)},
        "transforms": [], "routes": [],
        "merge_on_read": False,
        "max_files_per_trigger": 0,
        "trigger_ms": LIVE_TRIGGER_MS,
        "publish_interval_ms": LIVE_INTERVAL_MS,
        "warmup_segments": LIVE_WARMUP_SEGMENTS,
    }
    return segments, [per_seg] * nseg, {"db.ticks": list(state.values())}, spec


# ------------------------------------------------------------------ cache

def ensure(cache_root, workload, seed, seconds, live_rate):
    """Generate (or reuse) the feed for one (workload, seed, seconds).
    Returns the feed directory; meta.json inside records what was made."""
    version = gen_version()
    key = "%s-s%d-t%d-r%d-%s" % (workload, seed, seconds, live_rate, version)
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)
    if os.path.isdir(cache_root):  # feeds of older generator versions are stale
        for old in os.listdir(cache_root):
            if not old.endswith(version):
                shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    tmp = d + ".tmp%d" % os.getpid()
    t0 = time.perf_counter()
    rng = random.Random("%s:%d" % (workload, seed))
    scale = seconds / 10.0
    if workload == "backlog-catchup":
        segments, seg_events, expected, spec = gen_backlog(rng, scale)
    elif workload == "sharded-evolve":
        segments, seg_events, expected, spec = gen_sharded(rng, scale)
    elif workload == "live-tail":
        segments, seg_events, expected, spec = gen_live(rng, seconds, live_rate)
    else:
        raise ValueError("unknown workload " + workload)
    # live tail publishes from a staging directory; backlogs are the topic
    sub = "staging" if workload == "live-tail" else "topic"
    write_segments(os.path.join(tmp, sub), segments, base_mtime=1_600_000_000)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    meta = {"workload": workload, "seed": seed, "seconds": seconds,
            "events": sum(seg_events), "segments": len(segments), "gen_version": version,
            "gen_s": time.perf_counter() - t0, "spec": spec, "segment_events": seg_events}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, d)
    return d, meta


def pipeline_yaml(meta, topic, sink_dir, checkpoint):
    """The pipeline file a user would write for this feed."""
    spec = meta["spec"]
    q = json.dumps  # YAML accepts JSON-quoted scalars
    out = ["source:",
           "  type: %s-file" % spec["format"],
           "  path: %s" % q(topic),
           "  checkpoint: %s" % q(checkpoint),
           "  tables: %s" % q(", ".join(spec["tables"]))]
    for t, ddl in spec["tables"].items():
        out.append("  schema.ddl.%s: %s" % (t, q(ddl)))
    out += ["sink:",
            "  type: parquet",
            "  path: %s" % q(sink_dir),
            "  merge-on-read: %s" % ("true" if spec["merge_on_read"] else "false")]
    if spec["transforms"]:
        out.append("transform:")
        for tr in spec["transforms"]:
            out.append("  - source-table: %s" % tr["source-table"])
            out.append("    projection: %s" % q(tr["projection"]))
            out.append("    filter: %s" % q(tr["filter"]))
    if spec["routes"]:
        out.append("route:")
        for r in spec["routes"]:
            out.append("  - source-table: %s" % r["source-table"])
            out.append("    sink-table: %s" % r["sink-table"])
    out += ["pipeline:", "  name: %s" % meta["workload"]]
    return "\n".join(out) + "\n"
