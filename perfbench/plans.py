"""Seeded op sequences for the workloads, and the independent model the
delta_commit outputs are checked against. Everything here is a pure
function of the seed (and, for sql_read, of the statement names)."""
import random

# The statements sql_read times: one per relational family (star join,
# outer join, semi join, distinct aggregate, grouping sets, window, set
# operation, IN subquery, CTE). Over Delta a statement takes 0.3-1.6 s on
# 4 cores, so a window of a few seconds covers two passes of this set but
# less than half a pass of all 37; timing all of them would make every
# run's latencies depend on which statements its seed put first.
TIMED_STATEMENTS = ["q03_join_multi", "q04_join_left", "q07_semi_join", "q12_count_distinct",
                    "q13_rollup", "q16_window_rank", "q20_set_ops", "q22_subquery_in", "q23_cte"]

# sql_read time travel: the tables built from several appends, with the
# append count each gets, and one aggregate per table whose results are
# integers (exact under any summation order). `{root}` is the directory
# the harness builds the tables in. lineitem's 13 commits cross the
# 10-commit checkpoint, so reads of versions 0-9 replay JSON commits and
# reads of 10-11 a checkpoint plus its tail.
TT_TABLES = {
    "lineitem": (13, "SELECT count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS qty, "
                     "count(DISTINCT l_orderkey) AS n_orders "
                     "FROM delta.`{root}/lineitem` VERSION AS OF {v}"),
    "orders": (3, "SELECT count(*) AS n, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents, "
                  "count(DISTINCT o_custkey) AS n_cust "
                  "FROM delta.`{root}/orders` VERSION AS OF {v}"),
}

# delta_commit op mix of the first client per 10-op cycle: 40% append, 20%
# DELETE/UPDATE, 10% MERGE, 20% read-after-write, 10% OPTIMIZE. The other
# clients append and read their own shards. The order is fixed and spread
# out, so a window of a few ops per client already holds every kind and the
# same work whatever the seed; the seed picks the keys, ranges and values.
#
# Only the first client rewrites files: a MERGE reads the whole table, so a
# DELETE, UPDATE, MERGE or OPTIMIZE of another shard committed while it runs
# aborts it, and with two clients running the full mix a MERGE took 2-10 s
# over 0-4 retries (spread of pass_s over 10 seeds 0.29). Blind appends
# never abort another commit.
CYCLE = ["append", "read", "delete", "append", "merge",
         "append", "read", "update", "append", "optimize"]
APPEND_CYCLE = ["append", "read", "append"]
APPEND_ROWS = 500
MERGE_MATCHED = 75
MERGE_NEW = 75
FRESH_BASE = 10_000_000


def _rng(seed, stream):
    return random.Random(f"{seed}:{stream}")


def _tt_op(table, version):
    return {"kind": "time_travel", "name": f"tt_{table}", "table": table, "version": version,
            "sql": TT_TABLES[table][1].replace("{v}", str(version))}


def tt_versions(table):
    """The versions a window's time-travel aggregates of `table` read, in
    order: every version below the latest, stepping down by 7 modulo their
    count (lineitem: 11, 4, 9, 2, 7, 0, …), so a short window already
    mixes checkpoint-plus-tail, long and short JSON replays.

    The schedule is the same for every seed. A read of an old version
    slows the statements after it for a while (after lineitem version 9 by
    1.1-1.5x over the next ten or so), so with seeded versions a seed that
    drew version 9 early ran its whole window about a fifth slower."""
    n = TT_TABLES[table][0] - 1
    step = 7 if n % 7 else 1
    return [(n - 1 - i * step) % n for i in range(n)]


def sql_read_ops(seed, names, passes, client=0):
    """Client `client`'s ops: `passes` shuffled passes over `names`; each
    pass also holds one time-travel aggregate per nine statements (one
    statement in ten). The time-travel tables take turns, the first client
    starting with lineitem and the second with orders, each reading the
    versions of `tt_versions` in turn; the seed places them in the pass."""
    rng = _rng(seed, f"sql_read:{client}")
    n_tt = max(1, round(len(names) / 9))
    tables = sorted(TT_TABLES)
    schedule = {t: tt_versions(t) for t in tables}
    reads = {t: 0 for t in tables}
    turn = client
    ops = []
    for _ in range(passes):
        p = [{"kind": "sql", "name": n} for n in names]
        for _ in range(n_tt):
            t = tables[turn % len(tables)]
            turn += 1
            p.append(_tt_op(t, schedule[t][reads[t] % len(schedule[t])]))
            reads[t] += 1
        rng.shuffle(p)
        ops.extend(p)
    return ops


def tt_warmup_ops():
    """Every version a window's time-travel aggregates can read, each once
    and oldest first: the warm-up runs them all, so every version's result
    is checked in every run and the window starts with each replay path
    compiled."""
    return [_tt_op(t, v) for t in sorted(TT_TABLES) for v in range(TT_TABLES[t][0] - 1)]


def checked_statements(seed, names, share=3):
    """The statements whose registry DataFrame a run compares against:
    every `share`-th one, starting at a seeded offset, so consecutive seeds
    cover the whole set."""
    return names[seed % share::share]


def pass_counts_sql(names):
    counts = {n: 1 for n in names}
    n_tt = max(1, round(len(names) / 9))
    for t in TT_TABLES:
        counts[f"tt_{t}"] = n_tt / len(TT_TABLES)
    return counts


def delta_commit_ops(seed, client, n_clients, n_seed_rows, cycles):
    """Client `client` owns the keys k with k % n_clients == client: the
    seed rows' keys below `n_seed_rows` and fresh keys from FRESH_BASE up.
    Client 0 runs `cycles` of CYCLE, the others as many of APPEND_CYCLE."""
    rng = _rng(seed, f"delta_commit:{client}")
    own = list(range(client, n_seed_rows, n_clients))
    fresh = FRESH_BASE + client
    ops = []

    def fresh_keys(n):
        nonlocal fresh
        lo = fresh
        fresh += n * n_clients
        return lo

    kinds = CYCLE if client == 0 else APPEND_CYCLE
    for _ in range(cycles):
        for kind in kinds:
            salt = rng.randrange(1, 1_000_000)
            if kind == "append":
                op = {"kind": kind, "lo": fresh_keys(APPEND_ROWS), "n": APPEND_ROWS, "salt": salt}
            elif kind in ("delete", "update"):
                lo = rng.choice(own)
                width = rng.randrange(100, 400) * n_clients
                op = {"kind": kind, "lo": lo, "hi": lo + width}
            elif kind == "merge":
                op = {"kind": kind, "match_lo": rng.choice(own[:-MERGE_MATCHED]),
                      "match_n": MERGE_MATCHED, "new_lo": fresh_keys(MERGE_NEW),
                      "new_n": MERGE_NEW, "salt": salt}
            else:
                op = {"kind": kind}
            ops.append(op)
    return ops


def row_cents(key, salt):
    """o_totalprice in cents of a generated row (the harness's formula)."""
    return (key * 7919 + salt * 104729) % 49_900_000 + 100_000


class ShardModel:
    """The rows one client owns, as key -> price in cents."""

    def __init__(self, rows):
        self.rows = dict(rows)

    def apply(self, op, n_clients):
        k = op["kind"]
        if k == "append":
            for i in range(op["n"]):
                key = op["lo"] + i * n_clients
                self.rows[key] = row_cents(key, op["salt"])
        elif k == "delete":
            for key in [x for x in self.rows if op["lo"] <= x < op["hi"]]:
                del self.rows[key]
        elif k == "update":
            for key in self.rows:
                if op["lo"] <= key < op["hi"]:
                    self.rows[key] += 100
        elif k == "merge":
            for lo, n in ((op["match_lo"], op["match_n"]), (op["new_lo"], op["new_n"])):
                for i in range(n):
                    key = lo + i * n_clients
                    self.rows[key] = row_cents(key, op["salt"])

    def summary(self):
        return {"n": len(self.rows), "cents": sum(self.rows.values()), "keysum": sum(self.rows)}
