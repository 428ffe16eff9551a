"""Single-threaded reference model of the rule engine's alert semantics.

It re-derives, from the generated events and rules alone, every fired
alert the engine should deliver: per-event sliding aggregates, periodic
(tumbling and sliding) windows finalized as event time passes their end,
raw passthrough, and the ECA spawn of per-key child rules. Decimal
semantics follow the engine: values in scale-6 micro-units, AVG rounded
half-up as (2s + n) div (2n).

For the live engine the model is fed the trigger boundaries the run took
(which events each trigger read, and after how many triggers each rule
change landed), because rule changes and spawns take effect at the next
trigger.
"""
from collections import deque
from decimal import Decimal

COUNT_SENTINELS = ("COUNT_FLINK", "COUNT_WITH_RESET_FLINK")
OPS = {">": lambda a, b: a > b, "<": lambda a, b: a < b, ">=": lambda a, b: a >= b,
       "<=": lambda a, b: a <= b, "=": lambda a, b: a == b, "!=": lambda a, b: a != b,
       "GREATER": lambda a, b: a > b, "LESS": lambda a, b: a < b,
       "GREATER_EQUAL": lambda a, b: a >= b, "LESS_EQUAL": lambda a, b: a <= b,
       "EQUAL": lambda a, b: a == b, "NOT_EQUAL": lambda a, b: a != b}


def micro(s):
    return int(Decimal(s).scaleb(6).to_integral_value())


def fmt6(m):
    sign = "-" if m < 0 else ""
    m = abs(m)
    return f"{sign}{m // 10 ** 6}.{m % 10 ** 6:06d}"


def window_ms(r):
    return r.get("windowMilliseconds") or 0


def is_passthrough(r):
    return not window_ms(r) > 0


def is_per_event(r):
    return r.get("frequencyMilliseconds") == 0


def is_count(r):
    return r.get("aggregateFieldName") in COUNT_SENTINELS


def slide_ms(r):
    w, f = window_ms(r), r.get("frequencyMilliseconds")
    return f if f is not None and 0 < f <= w else w


def matches(r, ev):
    for f in r.get("windowFilterRules", []):
        v = ev[f["field"]]
        if f["operator"] in ("=", "EQUAL"):
            if v != f["value"]:
                return False
        elif not OPS[f["operator"]](Decimal(v), Decimal(f["value"])):
            return False
    return True


def key_of(r, ev):
    return "{" + ";".join(f"{n}={ev[n]}" for n in r.get("groupingKeyNames", [])) + "}"


def agg_in(r, ev):
    f = r.get("aggregateFieldName")
    return None if f is None or f in COUNT_SENTINELS else micro(ev[f])


def passes(r, agg):
    op, lim = r.get("limitOperatorType"), r.get("limit")
    if op is None or lim is None:
        return True
    return OPS[op](Decimal(agg), Decimal(str(lim)))


def per_event_agg(r, window):
    """Aggregate over the (ts, micro) entries of an inclusive window."""
    cnt = len(window)
    if is_count(r):
        return str(cnt)
    vals = [v for _, v in window if v is not None]
    if cnt == 0 or not vals:
        return "0"
    fn = r.get("aggregatorFunctionType")
    if fn == "SUM":
        return fmt6(sum(vals))
    if fn == "AVG":
        return fmt6((2 * sum(vals) + cnt) // (2 * cnt))
    if fn == "MIN":
        return fmt6(min(vals))
    return fmt6(max(vals))


def periodic_agg(r, vals, cnt):
    if is_count(r):
        return fmt6(cnt * 10 ** 6)
    fn = r.get("aggregatorFunctionType") or "SUM"
    if not vals:
        return None
    if fn == "SUM":
        return fmt6(sum(vals))
    if fn == "AVG":
        n = len(vals)
        return fmt6((2 * sum(vals) + n) // (2 * n))
    if fn == "MIN":
        return fmt6(min(vals))
    return fmt6(max(vals))


class _PerEvent:
    def __init__(self, rule):
        self.rule, self.keys = rule, {}

    def add(self, ev, key, v, out, ident):
        w = window_ms(self.rule)
        q = self.keys.setdefault(key, deque())
        q.append((ev["ts"], v))
        while q and q[0][0] < ev["ts"] - w:
            q.popleft()
        agg = per_event_agg(self.rule, q)
        if passes(self.rule, agg):
            out.append((ident, key, ev["ts"], agg, ev))


class _Periodic:
    def __init__(self, rule):
        self.rule, self.events = rule, []

    def add(self, ev, key, v, out, ident):
        self.events.append((ev["ts"], key, v))

    def emit(self, lo_end, hi_end, out, ident):
        w, s = window_ms(self.rule), slide_ms(self.rule)
        groups = {}
        for ts, key, v in self.events:
            start = ts - ts % s
            while start > ts - w:
                end = start + w
                if lo_end < end <= hi_end:
                    g = groups.setdefault((key, start), [[], 0])
                    g[1] += 1
                    if v is not None:
                        g[0].append(v)
                start -= s
        for (key, start), (vals, cnt) in sorted(groups.items()):
            agg = periodic_agg(self.rule, vals, cnt)
            if agg is not None and passes(self.rule, agg):
                out.append((ident, key, start, agg, None))
        self.events = [e for e in self.events if e[0] >= hi_end - w - s]


class _Passthrough:
    def __init__(self, rule):
        self.rule = rule

    def add(self, ev, key, v, out, ident):
        out.append((ident, key, ev["ts"], "" if v is None else fmt6(v), ev))


def _evaluator(rule):
    if is_passthrough(rule):
        return _Passthrough(rule)
    if is_per_event(rule):
        return _PerEvent(rule)
    return _Periodic(rule)


def _child(parent, template, ev):
    """ECA instantiation: `$field` keys bind from the triggering event as
    an equality filter. Identity = (parent id, bound values)."""
    keys, filters, bound = [], list(template.get("windowFilterRules", [])), []
    for k in template.get("groupingKeyNames", []):
        if k.startswith("$"):
            f = k[1:]
            keys.append(f)
            filters.append({"field": f, "operator": "=", "value": ev[f]})
            bound.append(ev[f])
        else:
            keys.append(k)
    rule = dict(template, groupingKeyNames=keys, windowFilterRules=filters)
    return ("child", parent["queryId"], tuple(bound)), rule


def run_batches(events, batches, script, applied_after):
    """Model of the live engine. `batches` are (lo, hi) event ranges in
    trigger order; scripted change c (script entries after the initial
    set, in order) landed after `applied_after[c]` triggers. Returns the
    fired alerts as (identity, key, ts, aggregate) tuples."""
    initial = [r for at, r in script if at <= 0]
    changes = [r for at, r in script if at > 0][:len(applied_after)]
    rules = {}

    def merge(r):
        if r.get("queryState") == "DELETE":
            rules.pop(("rule", r["queryId"]), None)
        else:
            rules[("rule", r["queryId"])] = r

    for r in initial:
        merge(r)
    state, out, c, emitted = {}, [], 0, None
    for k, (lo, hi) in enumerate(batches):
        while c < len(changes) and applied_after[c] <= k:
            merge(changes[c])
            c += 1
        live = {i: r for i, r in rules.items() if r.get("queryState", "ACTIVE") == "ACTIVE"}
        for ident in list(state):
            if ident not in live or state[ident].rule is not live[ident]:
                if ident not in live:
                    del state[ident]
                else:
                    state[ident].rule = live[ident]
        for ident, r in live.items():
            state.setdefault(ident, _evaluator(r))
        fired = []
        cur = None
        for ev in events[lo:hi]:
            for ident, r in live.items():
                if matches(r, ev):
                    state[ident].add(ev, key_of(r, ev), agg_in(r, ev), fired, ident)
                    cur = ev["ts"] if cur is None else max(cur, ev["ts"])
        if cur is not None:
            cur = cur if emitted is None else max(cur, emitted)
            lo_end = float("-inf") if emitted is None else emitted
            for ident, r in live.items():
                if isinstance(state[ident], _Periodic):
                    state[ident].emit(lo_end, cur, fired, ident)
            emitted = cur
        out.extend(fired)
        # ECA: one spawn per (parent, key) per trigger, from its latest alert
        latest = {}
        for ident, key, ts, agg, ev in fired:
            r = live[ident]
            if r.get("alertRules") and ev is not None:
                if (ident, key) not in latest or ts > latest[(ident, key)][0]:
                    latest[(ident, key)] = (ts, ev)
        for (ident, _), (_, ev) in sorted(latest.items(), key=lambda x: x[1][0]):
            for tmpl in live[ident]["alertRules"]:
                cid, crule = _child(live[ident], tmpl, ev)
                rules[cid] = dict(crule, queryState="ACTIVE")
    return [(i, k, t, a) for i, k, t, a, _ in out]


def run_static(events, rules):
    """Model of the static-rule replay: per-event rules only, every event
    in event-time order; ECA children do not join a running static plan."""
    evals = {("rule", r["queryId"]): _PerEvent(r) for r in rules
             if is_per_event(r) and not is_passthrough(r)}
    out = []
    for ev in sorted(events, key=lambda e: e["ts"]):
        for ident, e in evals.items():
            if matches(e.rule, ev):
                e.add(ev, key_of(e.rule, ev), agg_in(e.rule, ev), out, ident)
    return [(i, k, t, a) for i, k, t, a, _ in out]


def engine_identity(children):
    """Engine rule id -> model identity, from the final store's children
    rows (id, parent id, bound field, bound value)."""
    m = {}
    for cid, parent, _field, value in children:
        m[int(cid)] = ("child", int(parent), (str(value),))
    return m


def canon(alerts, children=()):
    ids = engine_identity(children)
    return [(ids.get(int(r), ("rule", int(r))), k, int(t), a) for r, k, t, a in alerts]
