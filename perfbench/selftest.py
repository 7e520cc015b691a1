"""Self-tests of the harness: the percentile rule, and the reference rules
from which the generator derives the notifications to expect, each pinned to
the reference daemon's source line. run.py runs them before every run.

    python3 perfbench/selftest.py
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
from run import tail  # noqa: E402

WM0 = gen.WATERMARK0_NS
IDX = gen.STARTING_INDEX


def task_event(eid, t, typ="Started", details=None):
    return {"Type": typ, "Time": t, "DisplayMessage": "#%s msg" % eid, "Details": details or {}}


def alloc(tasks, job="job", ns="default", node="n1", topic="Allocation"):
    states = {name: {"State": "running", "Events": evs} for name, evs in tasks.items()}
    return {"Topic": topic, "Type": "AllocationUpdated", "Index": 0,
            "Payload": {"Allocation": {"ID": "a", "Namespace": ns, "NodeName": node,
                                       "JobID": job, "TaskStates": states}}}


def frame(index, *events):
    return json.dumps({"Index": index, "Events": list(events)})


def ids(lines):
    return [eid for _, eid, _, _ in gen.expected_notifications(lines)]


class PercentileRule(unittest.TestCase):
    """Report the highest percentile with at least ten samples beyond it."""

    def test_p99_needs_a_thousand_samples(self):
        self.assertEqual(tail(list(range(1000))), (99, 989))
        self.assertEqual(tail(list(range(999)))[0], 95)

    def test_higher_percentiles_are_never_reported_above_the_request(self):
        self.assertEqual(tail(list(range(20000)))[0], 99)
        self.assertEqual(tail(list(range(20000)), want=99.9)[0], 99.9)

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(tail([5, 1, 3]), (50, 3))
        self.assertEqual(tail(list(range(40))), (75, 29))


class ReferenceRules(unittest.TestCase):

    def test_malformed_lines_are_dropped(self):
        # lib/ndjson.rb:31-33
        good = frame(IDX + 1, alloc({"web": [task_event("e1", WM0 + 1)]}))
        self.assertEqual(ids([good[:-5], good]), ["e1"])

    def test_heartbeats_are_not_events(self):
        # app.rb:110-117
        self.assertEqual(ids(["{}", "{}"]), [])

    def test_stale_index_frames_are_dropped(self):
        # app.rb:119-122: only frames strictly newer than the boot index
        stale = frame(IDX, alloc({"web": [task_event("e1", WM0 + 1)]}))
        fresh = frame(IDX + 1, alloc({"web": [task_event("e2", WM0 + 2)]}))
        self.assertEqual(ids([stale, fresh]), ["e2"])

    def test_only_the_allocation_topic_is_handled(self):
        # app.rb:128
        line = frame(IDX + 1, alloc({"web": [task_event("e1", WM0 + 1)]}, topic="Node"),
                     alloc({"api": [task_event("e2", WM0 + 1)]}))
        self.assertEqual(ids([line]), ["e2"])

    def test_connect_proxy_tasks_are_dropped_by_substring(self):
        # app.rb:139-141
        line = frame(IDX + 1, alloc({"connect-proxy-web": [task_event("e1", WM0 + 1)],
                                     "x-connect-proxy": [task_event("e2", WM0 + 1)],
                                     "proxy": [task_event("e3", WM0 + 1)]}))
        self.assertEqual(ids([line]), ["e3"])

    def test_duplicate_resends_are_dropped(self):
        # app.rb:163-167, 270-273: a later frame re-sending a seen event drops
        # it; the frame's new event passes
        first = frame(IDX + 1, alloc({"web": [task_event("e1", WM0 + 10)]}))
        again = frame(IDX + 2, alloc({"web": [task_event("e1", WM0 + 10),
                                              task_event("e2", WM0 + 20)]}))
        self.assertEqual(ids([first, again]), ["e1", "e2"])

    def test_a_frame_is_compared_against_the_watermark_at_its_start(self):
        # app.rb:163-167: within one frame, equal or earlier times still pass
        line = frame(IDX + 1, alloc({"web": [task_event("e1", WM0 + 20),
                                             task_event("e2", WM0 + 10)]}))
        self.assertEqual(ids([line]), ["e1", "e2"])

    def test_events_before_start_are_dropped(self):
        # app.rb:72: the watermark starts at the daemon's start time
        line = frame(IDX + 1, alloc({"web": [task_event("e1", WM0),
                                             task_event("e2", WM0 + 1)]}))
        self.assertEqual(ids([line]), ["e2"])

    def test_task_identifier_prefixes_non_default_namespaces(self):
        # app.rb:143-144
        self.assertEqual(gen.task_identifier("default", "j", "t"), "j.t")
        self.assertEqual(gen.task_identifier("batch", "j", "t"), "batch/j.t")

    def test_classification(self):
        # app.rb:195-209
        self.assertEqual(gen.classify("Terminated", {"oom_killed": "true", "exit_code": "0"}), "failure")
        self.assertEqual(gen.classify("Terminated", {"exit_code": "0"}), "success")
        self.assertEqual(gen.classify("Terminated", {"exit_code": "1"}), "failure")
        self.assertEqual(gen.classify("Restart Signaled", {"restart_reason": "x unhealthy"}), "failure")
        self.assertEqual(gen.classify("Restart Signaled", {}), "success")
        self.assertIsNone(gen.classify("Started", {"exit_code": "1"}))

    def test_payloads(self):
        # app.rb:183-193, 214-261
        d, s = gen.payloads("j.t", "n1", task_event("e1", 1, "Terminated",
                                                    {"exit_code": "0", "b": 'say "hi"'}))
        desc = '#e1 msg\n```{"b":"say \'hi\'","exit_code":"0"}```'
        self.assertEqual(d, {"content": "**j.t** task is **Terminated** on **n1** node",
                             "embeds": [{"description": desc, "color": 3066993}]})
        self.assertEqual(s["attachments"][0]["pretext"], "*j.t* task is *Terminated* on *n1* node")
        d, _ = gen.payloads("j.t", "n1", task_event("e2", 1))
        self.assertEqual(d["embeds"], [{"description": "#e2 msg"}])


class Generator(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        a, b, c = (gen.build("live", s, 2) for s in (7, 7, 8))
        self.assertEqual(a.writes, b.writes)
        self.assertNotEqual(a.writes, c.writes)

    def test_writes_reassemble_the_lines_and_split_characters(self):
        for kind in ("live", "backlog"):
            p = gen.build(kind, 3, 2)
            data = b"".join(w for _, w in p.writes)
            self.assertEqual(data.decode().split("\n")[:-1], p.lines)
            self.assertGreater(p.utf8_splits, 0)

    def test_every_must_drop_input_occurs_and_the_count_matches_the_rules(self):
        p = gen.build("live", 5, 10)
        for kind in ("stale", "topic", "proxy", "duplicate", "malformed", "heartbeat"):
            self.assertGreater(p.counts[kind], 0, kind)
        self.assertEqual(p.counts["notify"], len(gen.expected_notifications(p.lines)))


if __name__ == "__main__":
    unittest.main()
