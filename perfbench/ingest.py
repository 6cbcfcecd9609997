"""Op sequence and row model of the ``small_file_ingest`` workload.

The sequence is shaped like the reference's small-files layout: one event
batch of 10-50 rows per simulated 10 minutes, appended to one long-lived
snapshot table. Between appends it interleaves filtered-aggregate reads,
point scans by user, time-travel reads, key deletes (position and
equality) and upserts (copy-on-write and merge-on-read). Every cycle runs
the ops of ``CYCLE`` in its fixed order and closes with ``compact`` and
``expire``, so runs of different seeds do the same work on different rows
and keys.

The model applies each write to an in-memory copy of the rows, so every
read op carries the answer the engine must return. The harness executes
the ops in order and compares each read with that answer.
"""
import json
import random

REGIONS = ["us-west-2", "us-east-1", "eu-west-1", "ap-southeast-1"]
EVENT_TYPES = ["page_view", "click", "purchase", "signup", "login", "logout",
               "search", "add_to_cart", "checkout", "download"]
T0_MS = 1704067200000          # 2024-01-01T00:00:00Z
BATCH_MS = 10 * 60 * 1000      # one batch per simulated 10 minutes
USERS = 400
KEEP_SNAPSHOTS = 8             # expire keeps this many snapshots
TRAVEL_BACK = 3                # time travel targets one of the last N writes
# deletes and upserts touch a fixed number of keys (an upsert also inserts
# one new row): the cost of these ops grows with the files their keys hit,
# so a count drawn from the seed would make a run's work depend on it
CHANGED_KEYS = 3
# appends are over half of every cycle, as in an ingest stream. The order
# is the same for every seed and spreads the other ops over the cycle: a
# read costs more the more small files and delete files have piled up since
# the last compact, so where the reads fall decides their cost
CYCLE = ["append", "agg", "append", "append", "pdelete", "append", "scan",
         "append", "upsert", "append", "append", "agg", "append", "travel",
         "append", "edelete", "append", "append", "scan", "append",
         "merge_mor", "append", "agg", "append"]
CYCLE_OPS = len(CYCLE) + 2     # compact + expire close each cycle
READS = {"agg", "scan", "travel"}


def row_bytes(row):
    """Logical size of one user row: fixed-width fields at 8 bytes, strings
    at their length (the user-data denominator of write amplification)."""
    return 8 * 4 + len(row[2]) + len(row[4])


class Model:
    """The table's live rows plus the per-(region, event type) aggregates
    and per-user keys the reads ask for."""

    def __init__(self):
        self.rows = {}
        self.agg = {}
        self.by_user = {}
        self.count = 0
        self.total = 0

    def put(self, row):
        if row[0] in self.rows:
            self.drop(row[0])
        self.rows[row[0]] = row
        k = (row[4], row[2])
        n, s = self.agg.get(k, (0, 0))
        self.agg[k] = (n + 1, s + row[5])
        self.by_user.setdefault(row[1], set()).add(row[0])
        self.count += 1
        self.total += row[5]

    def drop(self, event_id):
        row = self.rows.pop(event_id)
        k = (row[4], row[2])
        n, s = self.agg[k]
        if n == 1:
            del self.agg[k]
        else:
            self.agg[k] = (n - 1, s - row[5])
        self.by_user[row[1]].discard(event_id)
        self.count -= 1
        self.total -= row[5]

    def agg_answer(self, region):
        return ",".join(sorted(f"{t}:{n}:{s}" for (r, t), (n, s)
                               in self.agg.items() if r == region))

    def scan_answer(self, user):
        return ",".join(sorted(f"{i}:{self.rows[i][5]}"
                               for i in self.by_user.get(user, ())))


def sequence(seed, cycles):
    """The op list for ``seed``: op 0 creates the table, then ``cycles``
    maintenance cycles follow. Each op is a dict; reads carry ``expect``."""
    rng = random.Random(seed)
    model = Model()
    state_after = {}   # write op index -> "count:sum" after it
    writes = []        # write op indices, in order
    next_id = 0
    batch_no = 0

    def batch():
        nonlocal next_id, batch_no
        base = T0_MS + batch_no * BATCH_MS
        batch_no += 1
        out = []
        for _ in range(rng.randint(10, 50)):
            out.append([next_id, rng.randint(1, USERS), rng.choice(EVENT_TYPES),
                        base + rng.randrange(BATCH_MS), rng.choice(REGIONS),
                        rng.randint(100, 50000)])
            next_id += 1
        return out

    def some_ids(k):
        return sorted(rng.sample(sorted(model.rows), min(k, len(model.rows))))

    def updates():
        out = []
        for i in some_ids(CHANGED_KEYS):
            r = list(model.rows[i])
            r[5] = rng.randint(100, 50000)
            out.append(r)
        return out + batch()[:1]

    ops = []

    def emit(op, written=None):
        i = len(ops)
        op["i"] = i
        if written is not None:
            op["user_bytes"] = sum(row_bytes(r) for r in written)
        if op["op"] not in READS:
            writes.append(i)
            state_after[i] = f"{model.count}:{model.total}"
        ops.append(op)

    first = batch()
    for r in first:
        model.put(r)
    emit({"op": "create", "rows": first}, first)
    for _ in range(cycles):
        for kind in CYCLE:
            if kind in ("pdelete", "edelete", "upsert", "merge_mor") and \
                    len(model.rows) < 10:
                kind = "append"
            if kind == "append":
                rows = batch()
                for r in rows:
                    model.put(r)
                emit({"op": kind, "rows": rows}, rows)
            elif kind in ("pdelete", "edelete"):
                ids = some_ids(CHANGED_KEYS)
                for i in ids:
                    model.drop(i)
                emit({"op": kind, "ids": ids})
            elif kind in ("upsert", "merge_mor"):
                rows = updates()
                for r in rows:
                    model.put(r)
                emit({"op": kind, "rows": rows}, rows)
            elif kind == "agg":
                region = rng.choice(REGIONS)
                emit({"op": kind, "region": region,
                      "expect": model.agg_answer(region)})
            elif kind == "scan":
                user = model.rows[rng.choice(sorted(model.rows))][1]
                emit({"op": kind, "user_id": user,
                      "expect": model.scan_answer(user)})
            else:
                at = rng.choice(writes[-TRAVEL_BACK:])
                emit({"op": kind, "at": at, "expect": state_after[at]})
        emit({"op": "compact"})
        emit({"op": "expire", "keep": KEEP_SNAPSHOTS})
    return ops


def dumps(ops):
    """One JSON object per line, keys sorted: the same ops give the same
    bytes."""
    return "".join(json.dumps(op, sort_keys=True, separators=(",", ":")) + "\n"
                   for op in ops)
