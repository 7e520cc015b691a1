"""Seeded Nomad event-stream generator and the reference rules that derive
the notifications a correct pipeline must deliver.

The generator builds the byte stream a Nomad agent would send on
`/v1/event/stream`: allocation-update frames, `{}` heartbeats, and inputs
the reference daemon must drop. Every task event carries a unique id in its
DisplayMessage, so each webhook POST can be matched to the event it reports.

Traffic shapes:
  live     open loop; frames arrive as a Poisson process (about 60 a
           second), each stamped with its due time (microseconds after the
           start signal). A frame is written in one to three pieces split at
           random byte offsets.
  backlog  the whole stream is due at the start signal and is written as
           fast as the socket accepts it, in random-sized pieces.
  warmup   a small backlog, replayed during set-up so the measured phase
           runs on compiled code paths.

Splits are forced inside multi-byte UTF-8 characters on purpose.

`expected_notifications` re-derives the delivery set from the generated
lines alone, following the reference daemon's rules line by line; the
self-tests in selftest.py pin each rule to its source line.
"""

import json
import random
import re
import struct

DEFAULT_NS = "default"
ANTI_PATTERN = "connect-proxy"
WATERMARK0_NS = 1_700_000_000_000_000_000  # pipeline start time (app.rb:72)
STARTING_INDEX = 100_000                     # agent raft index at boot (app.rb:63-70)

EVENT_TYPES = ["Received", "Task Setup", "Driver", "Started", "Restart Signaled",
               "Terminated", "Killing", "Killed"]
TEXT = ["restarting ✓", "Привет", "exit 日本語", "quoted \"task\"", "tab\there",
        "rocket 🚀 ok", "naïve café", "plain text"]
NODES = ["worker-%02d" % i for i in range(24)]
TASK_NAMES = ["web", "api", "worker", "cache", "sidecar"]
TOPICS_OTHER = ["Node", "Job", "Evaluation", "Deployment"]


# ------------------------------------------------------------------ rules

def task_identifier(ns, job, task):
    """app.rb:143-144: "{ns}/" prefix only outside the default namespace."""
    return (ns + "/" if ns != DEFAULT_NS else "") + job + "." + task


def classify(event_type, details):
    """app.rb:195-209; details values are strings, compared as strings."""
    d = details or {}
    if event_type == "Restart Signaled":
        return "failure" if re.search("unhealthy", d.get("restart_reason", "")) else "success"
    if event_type == "Terminated":
        if d.get("oom_killed", "") == "true":
            return "failure"
        return "success" if d.get("exit_code", "") == "0" else "failure"
    return None


def description(display_message, details):
    """app.rb:186-193: quote-swapped details, key-sorted, fenced after a newline."""
    d = {k: v.replace('"', "'") for k, v in sorted((details or {}).items())}
    if not d:
        return display_message
    return display_message + "\n```" + json.dumps(d, separators=(",", ":"), ensure_ascii=False) + "```"


DISCORD_COLOR = {"failure": 15158332, "success": 3066993}   # app.rb:218-227
SLACK_COLOR = {"failure": "#e74c3c", "success": "#2ecc71"}  # app.rb:248-256


def payloads(tid, node, te):
    """The two webhook bodies the pipeline must POST for one task event
    (app.rb:183, 214-261)."""
    subject = "**%s** task is **%s** on **%s** node" % (tid, te["Type"], node)
    desc = description(te.get("DisplayMessage", ""), te.get("Details"))
    state = classify(te["Type"], te.get("Details"))
    embed = {"description": desc}
    att = {"mrkdwn_in": ["text"], "text": desc, "pretext": subject.replace("**", "*")}
    if state:
        embed["color"] = DISCORD_COLOR[state]
        att["color"] = SLACK_COLOR[state]
    return {"content": subject, "embeds": [embed]}, {"attachments": [att]}


def parse_line(line):
    """lib/ndjson.rb:31-33: a line that is not one complete JSON value is
    dropped. Returns the parsed object or None."""
    try:
        return json.loads(line)
    except ValueError:
        return None


def expected_notifications(lines, starting_index=STARTING_INDEX, wm0=WATERMARK0_NS):
    """Apply the reference daemon's rules to the stream's lines, in order.

    Returns a list of (line_number, event_id, discord_body, slack_body) for
    every task event that must produce a webhook POST."""
    wms = {}
    out = []
    for ln, line in enumerate(lines):
        if not line.strip():
            continue
        frame = parse_line(line)
        if frame is None:                          # malformed (lib/ndjson.rb:31-33)
            continue
        idx = frame.get("Index")
        if idx is None:                            # heartbeat {} (app.rb:110-117)
            continue
        if idx <= starting_index:                  # stale index (app.rb:119-122)
            continue
        units = {}
        for ev in frame.get("Events") or []:
            if ev.get("Topic") != "Allocation":    # topic dispatch (app.rb:128)
                continue
            alloc = (ev.get("Payload") or {}).get("Allocation") or {}
            states = alloc.get("TaskStates")
            if not states:
                continue
            for task, st in states.items():
                if re.search(ANTI_PATTERN, task):  # proxy tasks (app.rb:139-141)
                    continue
                tid = task_identifier(alloc["Namespace"], alloc["JobID"], task)
                for te in st.get("Events") or []:
                    units.setdefault(tid, []).append((alloc["NodeName"], te))
        for tid, evs in units.items():
            # the watermark as of the frame's start (app.rb:163-167), then
            # advanced to the frame's max (app.rb:270-273)
            wm = wms.get(tid, wm0)
            for node, te in evs:
                if te["Time"] > wm:
                    d, s = payloads(tid, node, te)
                    out.append((ln, event_id(te), d, s))
            wms[tid] = max([wm] + [te["Time"] for _, te in evs])
    return out


ID_RE = re.compile(r"#(e\d+)\b")


def event_id(te):
    m = ID_RE.search(te.get("DisplayMessage", ""))
    return m.group(1) if m else None


# -------------------------------------------------------------- generator

class Generator:
    """Builds frames from a seeded task population."""

    def __init__(self, rng, n_allocs, zipf_s):
        self.rng = rng
        self.next_id = 0
        self.next_index = STARTING_INDEX + 1
        self.allocs = []
        for a in range(n_allocs):
            ns = DEFAULT_NS if rng.random() < 0.8 else "batch"
            tasks = rng.sample(TASK_NAMES, rng.randint(1, 3))
            if rng.random() < 0.15:
                tasks.append(ANTI_PATTERN + "-" + tasks[0])
            self.allocs.append({
                "ID": "%08x-%04x" % (rng.getrandbits(32), a), "Namespace": ns,
                "NodeName": rng.choice(NODES), "JobID": "job-%04d" % a,
                "TaskGroup": "g", "tasks": tasks,
                "history": {t: [] for t in tasks},
                "last": {t: WATERMARK0_NS - rng.randint(0, 2 * 10**9) for t in tasks}})
        # Zipf over allocations (s=0 is uniform), as cumulative weights
        self.cum, acc = [], 0.0
        for i in range(n_allocs):
            acc += 1.0 / (i + 1) ** zipf_s
            self.cum.append(acc)
        self.counts = {"stale": 0, "topic": 0, "proxy": 0, "duplicate": 0,
                       "malformed": 0, "heartbeat": 0, "notify": 0}
        self.last_frame = None

    def _id(self):
        self.next_id += 1
        return "e%d" % self.next_id

    def _task_event(self, t_ns):
        rng = self.rng
        typ = rng.choice(EVENT_TYPES)
        details = {}
        if typ == "Terminated":
            details = {"exit_code": rng.choice(["0", "1", "137"]),
                       "oom_killed": rng.choice(["true", "false", "false"])}
        elif typ == "Restart Signaled":
            details = {"restart_reason": rng.choice(
                ["unhealthy check \"http\"", "healthy", "Restart within policy"])}
        elif rng.random() < 0.3:
            details = {"note": rng.choice(TEXT), "code": str(rng.randint(0, 9))}
        return {"Type": typ, "Time": t_ns,
                "DisplayMessage": "#%s %s" % (self._id(), rng.choice(TEXT)),
                "Details": details}

    def _alloc_event(self, alloc, fresh_only=False):
        """One AllocationUpdated event: each task re-sends its recent history
        (duplicates, app.rb:163-167) and may carry new events."""
        rng = self.rng
        states = {}
        for t in alloc["tasks"]:
            evs = []
            if not fresh_only:
                hist = alloc["history"][t]
                evs.extend(hist[-rng.randint(0, 2):] if hist else [])
                if evs:
                    self.counts["duplicate"] += len(evs)
            n_new = rng.choice([0, 1, 2, 2])
            for _ in range(n_new):
                alloc["last"][t] += rng.randint(1, 5 * 10**9)
                te = self._task_event(alloc["last"][t])
                evs.append(te)
                if not fresh_only:
                    alloc["history"][t].append(te)
                    del alloc["history"][t][:-3]
            if t.startswith(ANTI_PATTERN) and n_new:
                self.counts["proxy"] += n_new
            elif not fresh_only:
                self.counts["notify"] += sum(e["Time"] > WATERMARK0_NS for e in evs[-n_new:] if n_new)
            states[t] = {"State": "running", "Failed": False, "Restarts": 0, "Events": evs}
        return {"Topic": "Allocation", "Type": "AllocationUpdated", "Key": alloc["ID"],
                "Namespace": alloc["Namespace"], "Index": 0,
                "Payload": {"Allocation": {k: alloc[k] for k in
                                           ("ID", "Namespace", "NodeName", "JobID", "TaskGroup")}
                            | {"ClientStatus": "running", "TaskStates": states}}}

    def _pick(self, k):
        idxs = self.rng.choices(range(len(self.allocs)), cum_weights=self.cum, k=k * 2)
        seen = []
        for i in idxs:   # distinct allocations per frame
            if i not in seen:
                seen.append(i)
        return [self.allocs[i] for i in seen[:k]]

    def _frame(self, events, index):
        for e in events:
            e["Index"] = index
        return json.dumps({"Index": index, "Events": events},
                          separators=(",", ":"), ensure_ascii=False)

    def frame_lines(self, allocs_per_frame):
        """The lines of one arrival: usually one allocation-update frame, at
        times with a must-drop input beside or instead of it."""
        rng = self.rng
        r = rng.random()
        if r < 0.03:       # stale index: a whole frame the daemon must skip
            self.counts["stale"] += 1
            evs = [self._alloc_event(a, fresh_only=True) for a in self._pick(allocs_per_frame)]
            return [self._frame(evs, STARTING_INDEX - rng.randint(0, 5000))]
        if r < 0.05:       # malformed: a truncated frame
            self.counts["malformed"] += 1
            evs = [self._alloc_event(a, fresh_only=True) for a in self._pick(1)]
            full = self._frame(evs, self.next_index)
            while True:
                cut = full[:rng.randint(1, len(full) - 2)]
                if parse_line(cut) is None:
                    return [cut]
        if r < 0.08 and self.last_frame:   # whole-frame re-send under a new index
            self.counts["duplicate"] += self.last_frame.count('"Time":')
            evs = json.loads(self.last_frame)["Events"]
            self.next_index += 1
            return [self._frame(evs, self.next_index)]
        evs = [self._alloc_event(a) for a in self._pick(allocs_per_frame)]
        if rng.random() < 0.05:            # a non-Allocation topic in the frame
            self.counts["topic"] += 1
            other = self._alloc_event(self._pick(1)[0], fresh_only=True)
            other["Topic"] = rng.choice(TOPICS_OTHER)
            evs.insert(rng.randrange(len(evs) + 1), other)
        self.next_index += 1
        line = self._frame(evs, self.next_index)
        self.last_frame = line
        return [line]


def split_points(data, n, rng):
    """n split offsets in (0, len), some forced inside a multi-byte UTF-8
    character (before a continuation byte)."""
    pts = set()
    for _ in range(n):
        p = rng.randint(1, len(data) - 1)
        if rng.random() < 0.5:
            # move to the next continuation byte, if any is near
            q = p
            while q < len(data) and q < p + 64 and not (0x80 <= data[q] <= 0xBF):
                q += 1
            if q < len(data) and 0x80 <= data[q] <= 0xBF:
                p = q
        pts.add(p)
    return sorted(pts)


def mid_char(data, p):
    return 0 < p < len(data) and 0x80 <= data[p] <= 0xBF


class Plan:
    """The writes of one stream: (due_us, bytes), plus bookkeeping."""

    def __init__(self):
        self.writes = []     # (due_us, bytes)
        self.lines = []      # every line in stream order, heartbeats included
        self.line_due = []   # due_us of each line
        self.utf8_splits = 0


LIVE_NOTIFY_PER_S = 120  # live notifications offered per second
BACKLOG_NOTIFY = {"backlog": 12000, "warmup": 2000}  # notifications per stream


def build(kind, seed, seconds):
    """Generate one stream. kind: 'live', 'backlog' or 'warmup'."""
    rng = random.Random(seed)
    plan = Plan()
    if kind == "live":
        # Poisson arrivals conditioned on their count: a fixed number of
        # notifications, their frames' due times uniform over the run and
        # sorted, so every seed offers the same load
        gen = Generator(rng, n_allocs=400, zipf_s=0.0)
        arrivals = []
        while gen.counts["notify"] < LIVE_NOTIFY_PER_S * seconds:
            arrivals.append(gen.frame_lines(allocs_per_frame=1))
        times = sorted(rng.uniform(0, seconds) for _ in arrivals)
        next_hb = 1.0
        for t, lines in zip(times, arrivals):
            while next_hb <= t:                      # {} every second (app.rb:110-117)
                gen.counts["heartbeat"] += 1
                add_line(plan, "{}", int(next_hb * 1e6), rng, 1)
                next_hb += 1.0
            for line in lines:
                add_line(plan, line, int(t * 1e6), rng, rng.randint(1, 3))
    else:
        gen = Generator(rng, n_allocs=4000, zipf_s=0.8)
        body = []
        while gen.counts["notify"] < BACKLOG_NOTIFY[kind]:
            if rng.random() < 0.02:
                gen.counts["heartbeat"] += 1
                body.append("{}")
            body.extend(gen.frame_lines(allocs_per_frame=rng.randint(2, 5)))
        data = "".join(l + "\n" for l in body).encode()
        plan.lines = body
        plan.line_due = [0] * len(body)
        pos = 0
        while pos < len(data):
            end = min(len(data), pos + rng.randint(4 << 10, 64 << 10))
            if rng.random() < 0.5:   # move the cut inside a multi-byte character
                q = end
                while q < min(len(data), end + 256) and not mid_char(data, q):
                    q += 1
                if mid_char(data, q):
                    end = q
            if mid_char(data, end):
                plan.utf8_splits += 1
            plan.writes.append((0, data[pos:end]))
            pos = end
    plan.counts = gen.counts
    return plan


def add_line(plan, line, due_us, rng, pieces):
    data = (line + "\n").encode()
    plan.lines.append(line)
    plan.line_due.append(due_us)
    pts = split_points(data, pieces - 1, rng) if pieces > 1 and len(data) > 2 else []
    prev = 0
    for k, p in enumerate(pts + [len(data)]):
        if p < len(data) and mid_char(data, p):
            plan.utf8_splits += 1
        # pieces 300 us apart, so a reader sees the frame in parts
        plan.writes.append((due_us + 300 * k, data[prev:p]))
        prev = p


def write_plan(plan, path, expected_posts):
    """Binary plan for the load generator: big-endian
    [n_writes:i32][starting_index:i64][expected_posts:i64] then per write
    [due_us:i64][valid_lines_after:i32][len:i32][bytes]."""
    valid = [parse_line(l) is not None for l in plan.lines]
    # line end offsets in the byte stream, to count completed valid lines
    ends, pos = [], 0
    for l in plan.lines:
        pos += len((l + "\n").encode())
        ends.append(pos)
    with open(path, "wb") as f:
        f.write(struct.pack(">iqq", len(plan.writes), STARTING_INDEX, expected_posts))
        written, li, nvalid = 0, 0, 0
        for due, b in plan.writes:
            written += len(b)
            while li < len(ends) and ends[li] <= written:
                nvalid += valid[li]
                li += 1
            f.write(struct.pack(">qii", due, nvalid, len(b)))
            f.write(b)
