"""Seeded input generators for the four workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The program under test receives only these files.
"""
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np

# ---------------------------------------------------------------- engine

# The README example rules (static replay): a per-car AVG speed monitor
# over 10 s that spawns a per-car MAX monitor, and a geo-box AVG rule.
README_RULES = [
    {"queryId": 1, "queryState": "ACTIVE", "groupingKeyNames": ["carId"],
     "aggregateFieldName": "speed", "aggregatorFunctionType": "AVG",
     "limitOperatorType": ">", "limit": 120,
     "windowMilliseconds": 10000, "frequencyMilliseconds": 0,
     "alertRules": [{"queryId": 2, "queryState": "ACTIVE",
                     "groupingKeyNames": ["$carId"], "aggregateFieldName": "speed",
                     "aggregatorFunctionType": "MAX", "limitOperatorType": ">",
                     "limit": 10, "windowMilliseconds": 5000,
                     "frequencyMilliseconds": 0, "lastTime": 10000}]},
    {"queryId": 3, "queryState": "ACTIVE",
     "windowFilterRules": [
         {"field": "lon", "operator": ">", "value": "121.45"},
         {"field": "lon", "operator": "<", "value": "121.55"},
         {"field": "lat", "operator": "<", "value": "31.25"},
         {"field": "lat", "operator": ">", "value": "31.20"}],
     "groupingKeyNames": ["carId"], "aggregateFieldName": "speed",
     "aggregatorFunctionType": "AVG", "limitOperatorType": ">", "limit": 120,
     "windowMilliseconds": 60000, "frequencyMilliseconds": 0},
]

REPLAY_CARS = 200
REPLAY_FILE_EVENTS = 10000
REPLAY_FILES = 4
REPLAY_T0 = datetime(2016, 8, 3, 12, 0, 0)


def car_lines(seed, n, cars=REPLAY_CARS):
    """SHCarData pipe-delimited lines: `cars` cars, one event per second
    each, seeded coordinates and speeds. Returns (line, fields) pairs;
    fields carry what the reference model needs."""
    rnd = random.Random(seed)
    out = []
    for i in range(n):
        car = 1000 + i % cars
        t = REPLAY_T0 + timedelta(seconds=i // cars)
        ts = t.strftime("%Y-%m-%d %H:%M:%S")
        lon = f"{121.4 + rnd.random() * 0.2:.6f}"
        lat = f"{31.15 + rnd.random() * 0.15:.6f}"
        speed = f"{rnd.randrange(150)}.0"
        angle = f"{rnd.randrange(360)}.0"
        line = f"{car:05d}|A|0|1|1|0|0|0|{ts}|{ts}|{lon}|{lat}|{speed}|{angle}|6|000"
        # naive Asia/Shanghai time, shifted to UTC as the source parses it
        ms = int((t - timedelta(hours=8) - datetime(1970, 1, 1)).total_seconds()) * 1000
        out.append((line, {"carId": str(car), "ts": ms, "lon": lon, "lat": lat,
                           "speed": speed, "angle": angle}))
    return out


def write_replay(seed, out_dir):
    """Replay input: four time-ordered files of 10k events, file i with
    modification time base+i so the file source takes them in order, one
    per trigger."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "rules.jsonl"), "w") as f:
        for r in README_RULES:
            f.write(json.dumps(r, sort_keys=True) + "\n")
    d = os.path.join(out_dir, "replay")
    os.makedirs(d, exist_ok=True)
    rows = car_lines(seed, REPLAY_FILE_EVENTS * REPLAY_FILES)
    for i in range(REPLAY_FILES):
        p = os.path.join(d, f"part-{i:04d}.txt")
        chunk = rows[i * REPLAY_FILE_EVENTS:(i + 1) * REPLAY_FILE_EVENTS]
        with open(p, "w") as f:
            f.write("\n".join(line for line, _ in chunk))
        os.utime(p, (1500000000 + i, 1500000000 + i))
    return {"files": REPLAY_FILES, "events_per_file": REPLAY_FILE_EVENTS}


LIVE_RATE = 40.0        # offered events per second
LIVE_STEP_MS = 10        # event-time spacing of consecutive events
LIVE_BASE_TS = 1700000000000
LIVE_CARS = 20
LIVE_REGIONS = 8
LIVE_CHURN_MS = 1500     # one scripted rule write every this many ms
# length of the untimed warm-up stream: one whole churn cycle (six writes),
# so every rule set the timed stream meets has been planned once before
LIVE_WARM_S = 10.0
LIVE_LEAD_S = 8.0        # leading seconds of each timed stream that are not timed


def _rule(qid, **kw):
    r = {"queryId": qid, "queryState": "ACTIVE"}
    r.update(kw)
    return r


def live_rules():
    """Initial rule set: per-event, tumbling, sliding and passthrough
    rules, and two ECA parents whose per-car children take the live rule
    count past the compiled fan-out limit. The parents fire on about a
    third of events, so the first trigger already spawns enough children
    to cross the limit: every later trigger takes the same fan-out path."""
    return [
        # every event fires this one: the delivery anchor of each event
        _rule(1, groupingKeyNames=["carId"], aggregateFieldName="COUNT_FLINK",
              windowMilliseconds=1000, frequencyMilliseconds=0),
        _rule(2, groupingKeyNames=["carId"], aggregateFieldName="speed",
              aggregatorFunctionType="AVG", limitOperatorType=">", limit=90,
              windowMilliseconds=2000, frequencyMilliseconds=0),
        _rule(3, groupingKeyNames=["region"], aggregateFieldName="speed",
              aggregatorFunctionType="SUM", limitOperatorType=">", limit=0,
              windowMilliseconds=2000),
        _rule(4, groupingKeyNames=["carId"], aggregateFieldName="speed",
              aggregatorFunctionType="MAX", limitOperatorType=">", limit=140,
              windowMilliseconds=3000, frequencyMilliseconds=1000),
        _rule(5, windowFilterRules=[{"field": "speed", "operator": ">", "value": "140"}],
              groupingKeyNames=["carId"], aggregateFieldName="speed"),
        _rule(6, groupingKeyNames=["carId"], aggregateFieldName="speed",
              aggregatorFunctionType="MAX", limitOperatorType=">", limit=100,
              windowMilliseconds=1000, frequencyMilliseconds=0,
              alertRules=[{"queryState": "ACTIVE", "groupingKeyNames": ["$carId"],
                           "aggregateFieldName": "speed", "aggregatorFunctionType": "AVG",
                           "limitOperatorType": ">", "limit": 50,
                           "windowMilliseconds": 2000, "frequencyMilliseconds": 0}]),
        _rule(7, groupingKeyNames=["carId"], aggregateFieldName="angle",
              aggregatorFunctionType="MAX", limitOperatorType=">", limit=240,
              windowMilliseconds=1000, frequencyMilliseconds=0,
              alertRules=[{"queryState": "ACTIVE", "groupingKeyNames": ["$carId"],
                           "aggregateFieldName": "speed", "aggregatorFunctionType": "SUM",
                           "limitOperatorType": ">", "limit": 200,
                           "windowMilliseconds": 1000, "frequencyMilliseconds": 0}]),
    ]


def churn_cycle():
    """One cycle of scripted rule writes: add, delete, modify, re-add."""
    r3 = live_rules()[2]
    return [
        _rule(8, groupingKeyNames=["region"], aggregateFieldName="speed",
              aggregatorFunctionType="MIN", limitOperatorType="<", limit=5,
              windowMilliseconds=1500, frequencyMilliseconds=0),
        {"queryId": 3, "queryState": "DELETE"},
        _rule(2, groupingKeyNames=["carId"], aggregateFieldName="speed",
              aggregatorFunctionType="AVG", limitOperatorType=">", limit=95,
              windowMilliseconds=2000, frequencyMilliseconds=0),
        r3,
        {"queryId": 8, "queryState": "DELETE"},
        live_rules()[1],
    ]


def write_live(seed, out_dir, seconds):
    """Open-loop event feed with Zipf-skewed car keys, and the rule script
    (offset ms, rule line); offset 0 is the initial rule set."""
    os.makedirs(out_dir, exist_ok=True)
    rnd = random.Random(seed)
    weights = [1.0 / (k + 1) ** 1.1 for k in range(LIVE_CARS)]
    cars = list(range(LIVE_CARS))
    total = max(LIVE_WARM_S, LIVE_LEAD_S + seconds) + 2
    n = int(total * LIVE_RATE)
    # the feed opens with one event per car that fires both ECA parents,
    # so every child rule spawns in a stream's first triggers, before
    # timing starts, whatever the seed
    roll = rnd.sample(cars, len(cars))
    with open(os.path.join(out_dir, "events.tsv"), "w") as f:
        for i in range(n):
            region = rnd.randrange(LIVE_REGIONS)
            if i < len(roll):
                car = roll[i]
                speed = f"{rnd.randrange(1410, 1500) / 10:.1f}"
                angle = f"{rnd.randrange(250, 360)}.0"
            else:
                car = rnd.choices(cars, weights)[0]
                speed = f"{rnd.randrange(10, 1500) / 10:.1f}"
                angle = f"{rnd.randrange(360)}.0"
            f.write(f"{i}\t{LIVE_BASE_TS + i * LIVE_STEP_MS}\t{car}\t{region}\t{speed}\t{angle}\n")
    cycle = churn_cycle()
    with open(os.path.join(out_dir, "script.tsv"), "w") as f:
        for r in live_rules():
            f.write(f"0\t{json.dumps(r, sort_keys=True)}\n")
        k, at = 0, LIVE_CHURN_MS
        while at < total * 1000:
            f.write(f"{at}\t{json.dumps(cycle[k % len(cycle)], sort_keys=True)}\n")
            k, at = k + 1, at + LIVE_CHURN_MS
    with open(os.path.join(out_dir, "params.txt"), "w") as f:
        f.write(f"rate={LIVE_RATE}\nbase_ts={LIVE_BASE_TS}\nstep_ms={LIVE_STEP_MS}\n"
                f"warm_s={LIVE_WARM_S}\nlead_s={LIVE_LEAD_S}\n")
    return {"rate": LIVE_RATE, "events": n}


def read_live(in_dir):
    """Events and script as written by write_live (for the model)."""
    events = []
    with open(os.path.join(in_dir, "events.tsv")) as f:
        for line in f:
            i, ts, car, region, speed, angle = line.rstrip("\n").split("\t")
            events.append({"seq": i, "ts": int(ts), "carId": car, "region": region,
                           "speed": speed, "angle": angle})
    script = []
    with open(os.path.join(in_dir, "script.tsv")) as f:
        for line in f:
            at, js = line.rstrip("\n").split("\t", 1)
            script.append((float(at), json.loads(js)))
    return events, script


# ------------------------------------------------------------------ gate

VOCAB = ("the a of and to in data stream batch spark query table join scan "
         "sort hash merge filter group window order key value row column "
         "vector part line agg fast slow big small index cache plan node "
         "task job stage shuffle").split()
SOURCES = [f"src{i}" for i in range(10)]
DIM = 128
# min pairwise cosine the feed may hold among its own vectors (the gate's
# semantic threshold is 0.3)
FEED_MAX_COS = 0.27


def _text(rnd, source, lo=12, hi=80):
    """Random text; each source prefers its own slice of the vocabulary,
    so the DSIR stage has a target distribution to select against."""
    own = VOCAB[(SOURCES.index(source) * 4) % len(VOCAB):][:12] or VOCAB[:12]
    k = rnd.randint(lo, hi)
    return " ".join(rnd.choice(own) if rnd.random() < 0.6 else rnd.choice(VOCAB)
                    for _ in range(k))


def _unit(v):
    return v / np.linalg.norm(v)


def _fmt_vec(v):
    return [float(f"{x:.5f}") for x in v]


class _Corpus:
    """Shared state of one gate corpus build."""

    def __init__(self, seed):
        self.rnd = random.Random(seed)
        self.np = np.random.default_rng(seed)

    def vec(self):
        return _unit(self.np.standard_normal(DIM))


# feed kinds and their shares; the rest of the feed is fresh text and vectors
GATE_KINDS = (("exact", 0.12), ("near", 0.12), ("semantic", 0.12), ("contained", 0.06))


def _derive(c, landed_doc, landed_vec, kind, source):
    """A feed document related to one landed document by `kind`."""
    rnd = c.rnd
    words = landed_doc["text"].split()
    if kind == "exact":
        return landed_doc["text"], c.vec()
    if kind == "near":
        w = list(words)
        for j in rnd.sample(range(len(w)), max(1, len(w) // 10)):
            w[j] = rnd.choice(VOCAB)
        return " ".join(w), c.vec()
    if kind == "semantic":
        return _text(rnd, source), _unit(landed_vec + 0.08 * c.np.standard_normal(DIM))
    if kind == "contained":
        k = max(8, int(len(words) * 0.4))
        s = rnd.randrange(0, len(words) - k + 1)
        return " ".join(words[s:s + k]), c.vec()
    return _text(rnd, source), c.vec()


def _feed(c, landed, lvec, ids, used, accepted):
    """Feed documents whose vectors stay below FEED_MAX_COS with every
    vector already accepted, and each derived from a distinct landed doc:
    no feed pair is a duplicate, near-duplicate or semantic pair."""
    rows = []
    long_docs = [i for i, d in enumerate(landed) if len(d["text"].split()) >= 40]
    for doc_id in ids:
        source = c.rnd.choice(SOURCES)
        r = c.rnd.random()
        kind, acc = "fresh", 0.0
        for k, p in GATE_KINDS:
            acc += p
            if r < acc:
                kind = k
                break
        while True:
            pool = long_docs if kind == "contained" else range(len(landed))
            x = c.rnd.choice(pool)
            if x in used:
                continue
            text, vec = _derive(c, landed[x], lvec[x], kind, source)
            if accepted and float(np.max(np.array(accepted) @ vec)) >= FEED_MAX_COS:
                continue
            used.add(x)
            accepted.append(vec)
            break
        rows.append({"doc_id": doc_id, "source": source, "text": text,
                     "embedding": _fmt_vec(vec)})
    return rows


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def _landed(c, n):
    docs, vecs = [], []
    for i in range(n):
        s = SOURCES[i % len(SOURCES)]
        docs.append({"doc_id": i, "source": s, "text": _text(c.rnd, s)})
        vecs.append(c.vec())
    return docs, vecs


GATE_LIVE_LANDED = 1000
GATE_LIVE_RATE = 12.0
GATE_LIVE_LEAD_S = 3.0   # leading seconds of the open loop that are not timed
GATE_LIVE_WARM = 40


def write_gate_live(seed, out_dir, seconds):
    os.makedirs(out_dir, exist_ok=True)
    c = _Corpus(seed)
    landed, lvec = _landed(c, GATE_LIVE_LANDED)
    n_feed = int((GATE_LIVE_LEAD_S + seconds) * GATE_LIVE_RATE) + 10
    used, accepted = set(), []
    base = GATE_LIVE_LANDED
    feed = _feed(c, landed, lvec, range(base, base + n_feed), used, accepted)
    warm = _feed(c, landed, lvec, range(base + n_feed, base + n_feed + GATE_LIVE_WARM),
                 used, [])
    _write_gate(out_dir, landed, lvec, feed, warm)
    with open(os.path.join(out_dir, "params.txt"), "w") as f:
        f.write(f"rate={GATE_LIVE_RATE}\nlead_s={GATE_LIVE_LEAD_S}\n")
    return {"rate": GATE_LIVE_RATE, "feed": n_feed}


def _write_gate(out_dir, landed, lvec, feed, warm):
    _write_jsonl(os.path.join(out_dir, "landed_docs.jsonl"), landed)
    _write_jsonl(os.path.join(out_dir, "landed_emb.jsonl"),
                 [{"vec_id": d["doc_id"], "embedding": _fmt_vec(v)}
                  for d, v in zip(landed, lvec)])
    _write_jsonl(os.path.join(out_dir, "feed.jsonl"), feed)
    _write_jsonl(os.path.join(out_dir, "warm.jsonl"), warm)


def generate(workload, seed, out_dir, seconds):
    if workload == "engine_replay":
        return write_replay(seed, out_dir)
    if workload == "eca_live":
        return write_live(seed, out_dir, seconds)
    if workload == "gate_live":
        return write_gate_live(seed, out_dir, seconds)
    raise ValueError(f"unknown workload {workload}")
