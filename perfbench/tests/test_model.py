import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import model  # noqa: E402

T0 = 1700000000000


def ev(i, ts, car="1", speed="10.0", region="0"):
    return {"seq": str(i), "ts": T0 + ts, "carId": car, "speed": speed,
            "region": region, "angle": "0.0"}


def rule(qid, **kw):
    r = {"queryId": qid, "queryState": "ACTIVE"}
    r.update(kw)
    return r


COUNT = rule(1, groupingKeyNames=["carId"], aggregateFieldName="COUNT_FLINK",
             windowMilliseconds=1000, frequencyMilliseconds=0)


class DecimalTest(unittest.TestCase):
    def test_micro_units(self):
        self.assertEqual(model.micro("87.3"), 87300000)
        self.assertEqual(model.fmt6(87300000), "87.300000")
        self.assertEqual(model.fmt6(5), "0.000005")

    def test_avg_rounds_half_up(self):
        r = rule(2, aggregateFieldName="speed", aggregatorFunctionType="AVG")
        window = [(0, 1000001), (1, 1000002)]
        self.assertEqual(model.per_event_agg(r, window), "1.000002")

    def test_count_renders_as_integer_per_event_and_scale6_per_window(self):
        self.assertEqual(model.per_event_agg(COUNT, [(0, None)] * 3), "3")
        self.assertEqual(model.periodic_agg(COUNT, [], 3), "3.000000")


class StaticTest(unittest.TestCase):
    def test_inclusive_sliding_window_per_key(self):
        events = [ev(0, 0), ev(1, 500), ev(2, 1000), ev(3, 1001), ev(4, 1001, car="2")]
        got = model.run_static(events, [COUNT])
        self.assertEqual([(k, t - T0, a) for _, k, t, a in got], [
            ("{carId=1}", 0, "1"), ("{carId=1}", 500, "2"), ("{carId=1}", 1000, "3"),
            ("{carId=1}", 1001, "3"), ("{carId=2}", 1001, "1")])

    def test_having_and_filters(self):
        r = rule(3, windowFilterRules=[{"field": "speed", "operator": ">", "value": "20"}],
                 groupingKeyNames=["carId"], aggregateFieldName="speed",
                 aggregatorFunctionType="MAX", limitOperatorType=">", limit=25,
                 windowMilliseconds=1000, frequencyMilliseconds=0)
        events = [ev(0, 0, speed="30.0"), ev(1, 10, speed="10.0"), ev(2, 20, speed="21.5")]
        got = model.run_static(events, [r])
        self.assertEqual([(t - T0, a) for _, _, t, a in got], [(0, "30.000000"),
                                                               (20, "30.000000")])


class LiveTest(unittest.TestCase):
    def test_tumbling_window_emits_once_event_time_passes_its_end(self):
        r = rule(4, groupingKeyNames=["region"], aggregateFieldName="speed",
                 aggregatorFunctionType="SUM", windowMilliseconds=1000)
        events = [ev(0, 100), ev(1, 900), ev(2, 1500), ev(3, 2100)]
        script = [(0, r)]
        # window [T0, T0+1000) ends inside the second trigger, [1000, 2000) in the third
        got = model.run_batches(events, [(0, 2), (2, 3), (3, 4)], script, [])
        self.assertEqual([(t - T0, a) for _, _, t, a in got],
                         [(0, "20.000000"), (1000, "10.000000")])

    def test_passthrough_emits_each_matching_event(self):
        r = rule(5, windowFilterRules=[{"field": "speed", "operator": ">", "value": "5"}],
                 groupingKeyNames=["carId"], aggregateFieldName="speed")
        got = model.run_batches([ev(0, 0), ev(1, 1, speed="4.0")], [(0, 2)], [(0, r)], [])
        self.assertEqual(got, [(("rule", 5), "{carId=1}", T0, "10.000000")])

    def test_eca_child_lives_from_the_next_trigger(self):
        parent = rule(6, groupingKeyNames=["carId"], aggregateFieldName="speed",
                      aggregatorFunctionType="MAX", limitOperatorType=">", limit=50,
                      windowMilliseconds=1000, frequencyMilliseconds=0,
                      alertRules=[{"queryState": "ACTIVE", "groupingKeyNames": ["$carId"],
                                   "aggregateFieldName": "COUNT_FLINK",
                                   "windowMilliseconds": 1000, "frequencyMilliseconds": 0}])
        events = [ev(0, 0, speed="60.0"), ev(1, 10), ev(2, 20), ev(3, 30, car="2")]
        got = model.run_batches(events, [(0, 2), (2, 4)], [(0, parent)], [])
        child = ("child", 6, ("1",))
        self.assertIn((("rule", 6), "{carId=1}", T0, "60.000000"), got)
        # the child was spawned after trigger 0: it sees event 2 only, and
        # its bound filter keeps car 2 out
        self.assertEqual([g for g in got if g[0] == child],
                         [(child, "{carId=1}", T0 + 20, "1")])

    def test_rule_changes_apply_after_their_trigger_count(self):
        events = [ev(i, i * 10) for i in range(4)]
        script = [(0, COUNT), (700, {"queryId": 1, "queryState": "DELETE"}), (1400, COUNT)]
        # deleted after trigger 1, re-added after trigger 2: state restarts
        got = model.run_batches(events, [(0, 1), (1, 2), (2, 3), (3, 4)], script, [1, 2])
        self.assertEqual([(t - T0, a) for _, _, t, a in got],
                         [(0, "1"), (20, "1"), (30, "2")])

    def test_delete_and_re_add_between_two_triggers_keeps_state(self):
        events = [ev(i, i * 10) for i in range(3)]
        script = [(0, COUNT), (700, {"queryId": 1, "queryState": "DELETE"}), (1400, COUNT)]
        got = model.run_batches(events, [(0, 1), (1, 2), (2, 3)], script, [1, 1])
        self.assertEqual([a for _, _, _, a in got], ["1", "2", "3"])

    def test_modified_limit_applies_from_the_next_trigger(self):
        r = rule(2, groupingKeyNames=["carId"], aggregateFieldName="speed",
                 aggregatorFunctionType="AVG", limitOperatorType=">", limit=5,
                 windowMilliseconds=1000, frequencyMilliseconds=0)
        stricter = dict(r, limit=15)
        events = [ev(0, 0), ev(1, 10)]
        got = model.run_batches(events, [(0, 1), (1, 2)], [(0, r), (700, stricter)], [1])
        self.assertEqual([(t - T0) for _, _, t, _ in got], [0])


class CanonTest(unittest.TestCase):
    def test_children_map_to_parent_and_bound_value(self):
        alerts = [[99, "{carId=7}", T0, "1"], [1, "{carId=7}", T0, "1"]]
        children = [[99, 6, "carId", "7"]]
        self.assertEqual(model.canon(alerts, children), [
            (("child", 6, ("7",)), "{carId=7}", T0, "1"),
            (("rule", 1), "{carId=7}", T0, "1")])


if __name__ == "__main__":
    unittest.main()
