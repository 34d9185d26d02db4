"""Seeded inputs for the benchmark's workloads.

Everything a workload reads is made here from `--seed`, before the engine
starts: the same seed gives byte-identical inputs on any machine and at any
core count. The event fields follow the engine's `cpms.Generators` (the
reference's load simulators, FIXTURES.md section 2); they are produced here
rather than by calling `Generators`, whose `rand(seed)` columns depend on
the session's default parallelism and so on the core count.
"""
import bisect
import csv
import json
import os
import random
import time

T0 = 1_700_000_000  # epoch seconds of the first staged event
EVENTS_PER_FILE = 1000
INGEST_USERS = 50_000
SERVE_USERS = 2_000

# Planted records per staged file (FIXTURES.md section 2); the rest of the
# file is valid events.
KEYLESS, NON_JSON, DUPLICATES, SWAPPED = 3, 2, 5, 20

RISKS = ["Critical", "High", "Low", "Medium"]

# The registry slice: one query from each operator family, among them the
# builders of the DerivedCache artifacts (source stats, link edges, host
# rank).
REGISTRY_SLICE = [
    "q23_dashboard_recent", "q70_retention", "q35_dedup_minhash_lsh",
    "q87_weighted_sample", "q125_mixture_weights", "q177_host_rank",
]


def _uuid(rng):
    h = f"{rng.getrandbits(128):032x}"
    return f"{h[:8]}-{h[8:12]}-4{h[13:16]}-{h[16:20]}-{h[20:]}"


class Skewed:
    """Zipf-like picks (exponent 1.1) over a list: a few keys are hot."""

    def __init__(self, items, s=1.1):
        self.items = items
        acc, self.cum = 0.0, []
        for rank in range(len(items)):
            acc += 1.0 / (rank + 1) ** s
            self.cum.append(acc)

    def pick(self, rng):
        i = bisect.bisect_left(self.cum, rng.random() * self.cum[-1])
        return self.items[min(i, len(self.items) - 1)]


def _epoch(ts, rng):
    # str(time.time()) form: seconds with a fraction
    return f"{ts}.{rng.randrange(1_000_000):06d}"


def _wearable(rng, event_id, user, ts):
    return {"event_id": event_id, "user_id": user, "device_id": "dev_" + user[:8],
            "schema": "tracking_v1", "cognitive_predict": False,
            "steps": rng.randrange(16), "distance": round(rng.random() * 0.05, 3),
            "heart_rate": 65 + rng.randrange(66), "calories": 1 + rng.randrange(8),
            "timestamp": _epoch(ts, rng)}


def _manual(rng, event_id, user, ts):
    return {"event_id": event_id, "user_id": user, "device_id": "phone_" + user[:8],
            "schema": "manual_entry_v1", "cognitive_predict": True,
            "sleep_duration": round(4 + rng.random() * 5, 1),
            "stress_level": 1 + rng.randrange(10),
            "caffeine_intake": 100 * rng.randrange(3),
            "screen_time": round(1 + rng.random() * 11, 1),
            "timestamp": _epoch(ts, rng)}


def _event(rng, event_id, user, ts):
    """Wearable and manual entries mixed about 9:1."""
    make = _manual if rng.random() < 0.1 else _wearable
    return make(rng, event_id, user, ts)


def _write_lines(path, lines, mtime):
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.utime(path, (mtime, mtime))  # the file source orders files by mtime


def ingest(out, seed, n_files):
    """`n_files` staged files of 1,000 lines in `out/files`, one warm-up
    file in `out/warm`, and `out/expected.properties`."""
    rng = random.Random(f"ingest-{seed}")
    users = [_uuid(rng) for _ in range(INGEST_USERS)]
    skew = Skewed(users)
    native = EVENTS_PER_FILE - KEYLESS - NON_JSON - DUPLICATES

    def events_for(k):
        # distinct whole-second timestamps, one window per file
        return [(T0 + k * EVENTS_PER_FILE + i, f"ev-{seed}-{k}-{i}", skew.pick(rng))
                for i in range(native)]

    files = [events_for(k) for k in range(n_files)]
    # out of order: swap events between a file and one up to three files
    # later, so late and early arrivals both occur
    for k in range(n_files - 1):
        d = min(n_files - 1, k + 1 + rng.randrange(3))
        for _ in range(SWAPPED):
            i, j = rng.randrange(native), rng.randrange(native)
            files[k][i], files[d][j] = files[d][j], files[k][i]

    valid_users = set()
    os.makedirs(f"{out}/files")
    for k, evs in enumerate(files):
        lines = []
        for ts, eid, user in evs:
            lines.append(json.dumps(_event(rng, eid, user, ts)))
            valid_users.add(user)
        # at-least-once delivery: exact copies of events of the same file
        lines += [lines[rng.randrange(len(lines))] for _ in range(DUPLICATES)]
        for p in range(KEYLESS):
            e = _wearable(rng, f"keyless-{seed}-{k}-{p}", "x" * 8, T0 + k * EVENTS_PER_FILE)
            del e["user_id"]
            lines.append(json.dumps(e))
        lines.append(f"planted-{seed}-{k} this payload is not JSON")
        lines.append('{"event_id":"planted-%d-%d","user_id":"planted-%d-%d",'
                     '"schema":"tracking_v1","steps":3,"heart_rate":' % (seed, k, seed, k))
        rng.shuffle(lines)
        assert len(lines) == EVENTS_PER_FILE
        _write_lines(f"{out}/files/part-{k:05d}.json", lines, T0 + k)

    os.makedirs(f"{out}/warm")
    warm = [json.dumps(_event(rng, f"warm-{seed}-{i}", skew.pick(rng), T0 - EVENTS_PER_FILE + i))
            for i in range(EVENTS_PER_FILE)]
    _write_lines(f"{out}/warm/part-00000.json", warm, T0)

    with open(f"{out}/expected.properties", "w") as f:
        f.write(f"lines={n_files * EVENTS_PER_FILE}\nvalid_users={len(valid_users)}\n")


def serve(out, seed, n_users=SERVE_USERS, n_ops=3000):
    """Star-schema CSVs (FIXTURES.md section 1 shape), aggregate events, a
    training set, the request sequence and the expected values."""
    rng = random.Random(f"serve-{seed}")
    users = [_uuid(rng) for _ in range(n_users)]
    day0 = 1_672_531_200  # 2023-01-01
    span = 1_764_547_200 - day0  # to 2025-12-01

    def iso(t):
        return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t))

    os.makedirs(f"{out}/csv")
    owned = critical = score_sum = 0
    with open(f"{out}/csv/users.csv", "w", newline="") as fu, \
            open(f"{out}/csv/cognitive_scores.csv", "w", newline="") as fc, \
            open(f"{out}/csv/tracking_risks.csv", "w", newline="") as ft:
        wu = csv.writer(fu)  # the Python-literal arrays need CSV quoting
        wu.writerow(["userId", "date_of_birth", "diet_type", "cognitive_scores", "risk_trackings"])
        fc.write("cs_id,event_id,timestamp,cognitive_score\n")
        ft.write("tr_id,event_id,timestamp,steps,distance,hearth_rate,calories,risk_metric\n")

        rand = rng.random

        def score_row():
            s = 1 + int(rand() * 100)
            cs = _uuid(rng)
            fc.write(f"{cs},ev-{cs[:13]},{iso(day0 + int(rand() * span))},{s}\n")
            return cs, s

        def risk_row():
            tr = _uuid(rng)
            ft.write(f"{tr},ev-{tr[:13]},{iso(day0 + int(rand() * span))},"
                     f"{11 + int(rand() * 19_946)},{round(0.01 + rand() * 15.95, 2)},"
                     f"{60 + int(rand() * 121)},{501 + int(rand() * 2_498)},"
                     f"{RISKS[int(rand() * 4)]}\n")
            return tr

        for u in users:
            empty = rng.random() < 0.02  # users with empty id arrays
            cs_ids, tr_ids = [], []
            if not empty:
                for _ in range(2 + rng.randrange(9)):  # about 6 scores each
                    cs, s = score_row()
                    cs_ids.append(cs)
                    owned += 1
                    score_sum += s
                    critical += s < 50
                tr_ids = [risk_row() for _ in range(3 + rng.randrange(9))]  # about 7 risks
            dob = f"{1960 + rng.randrange(46)}-{1 + rng.randrange(12):02d}-{1 + rng.randrange(28):02d}"
            wu.writerow([u, dob, rng.choice(["Keto", "Omnivore", "Paleo", "Vegan", "Vegetarian"]),
                         str(cs_ids), str(tr_ids)])  # Python-literal arrays
        for _ in range(max(1, n_users // 100)):  # orphans: owned by no user
            score_row()
            risk_row()

    # aggregates: 1-3 wearable events for 95% of users, distinct timestamps
    latest = {}
    ts = T0
    with open(f"{out}/events.jsonl", "w") as f:
        for u in users:
            if rng.random() < 0.05:
                continue
            for _ in range(1 + rng.randrange(3)):
                ts += 1 + rng.randrange(5)
                e = _wearable(rng, f"agg-{seed}-{ts}", u, ts)
                f.write(json.dumps(e) + "\n")
                latest[u] = (ts, e["heart_rate"], e["steps"], e["calories"])
    with open(f"{out}/latest.tsv", "w") as f:
        for u, (t, hr, st, cal) in latest.items():
            f.write(f"{u}\t{t}\t{hr}\t{st}\t{cal}\n")

    exercise = ["None", "Light", "Moderate", "Heavy"]

    def request():
        return dict(sleep=round(4 + rng.random() * 5, 1), stress=1 + rng.randrange(10),
                    screen=round(1 + rng.random() * 11, 1), ex=rng.choice(exercise),
                    caffeine=100 * rng.randrange(3), reaction=round(200 + rng.random() * 400, 1),
                    memory=rng.randrange(101))

    with open(f"{out}/train.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["sleep_duration", "stress_level", "screen_time", "exercise_frequency",
                    "caffeine_intake", "reaction_time", "memory_test_score", "heart_rate",
                    "steps", "calories", "label"])
        for _ in range(2000):
            r = request()
            hr, st, cal = 60 + rng.randrange(71), rng.randrange(16), 1 + rng.randrange(8)
            label = (70 + 4 * (r["sleep"] - 6.5) - 2.5 * (r["stress"] - 5) - 1.2 * (r["screen"] - 6)
                     + 3 * exercise.index(r["ex"]) - 1.5 * r["caffeine"] / 100
                     - (r["reaction"] - 400) / 40 + (r["memory"] - 50) / 5 - (hr - 90) / 10
                     + rng.gauss(0, 5))
            w.writerow([r["sleep"], r["stress"], r["screen"], r["ex"], r["caffeine"],
                        r["reaction"], r["memory"], hr, st, cal, round(min(100, max(0, label)), 2)])

    # requests: every block of ten holds 4 status, 3 predict, 3 dashboard
    skew = Skewed(users)
    with open(f"{out}/ops.tsv", "w") as f:
        for _ in range(n_ops // 10):
            block = ["status"] * 4 + ["predict"] * 3 + ["dashboard"] * 3
            rng.shuffle(block)
            for kind in block:
                u = skew.pick(rng) if kind == "status" else rng.choice(users)
                r = request()
                f.write("\t".join(map(str, [kind, u, r["sleep"], r["stress"], r["screen"], r["ex"],
                                            r["caffeine"], r["reaction"], r["memory"]])) + "\n")

    with open(f"{out}/expected.properties", "w") as f:
        f.write(f"owned_scores={owned}\ncritical={critical}\nscore_sum={score_sum}\n")


def registry(out, seed, names, n_orders=60):
    """One seeded order of the registry slice per line: the set-ups take the
    first lines, the timed passes the rest."""
    rng = random.Random(f"registry-{seed}")
    os.makedirs(out)
    with open(f"{out}/orders.txt", "w") as f:
        for _ in range(n_orders):
            order = list(names)
            rng.shuffle(order)
            f.write(",".join(order) + "\n")
