"""Seeded input generator for the benchmark.

Everything a workload varies with `--seed` is decided here, from the seed
alone, and written as a plan file (plus the tweet NDJSON) under a
temporary root that the runner deletes when the run ends:

- analyst_sql: the order in which the interactive surface is run. An item
  ranks by h64("<item>:<seed>"), so the JVM applies the same permutation
  to the item list it finds and the runner checks that it did.
- daily_fold: an id's day is h64("<id>:<seed>") mod DAYS; day d's takedown
  batch removes the ids landed so far with h64("<id>:<seed>:del") mod
  TAKEDOWN_MOD == d mod TAKEDOWN_MOD; the tweet NDJSON each day lands for
  the ingest drive.

h64 is the engine's portable hash: the first 15 hex digits of md5 as an
integer (graft.U.h64Local, graft.functions.H64).
"""
import hashlib
import json
import os
import random

DAYS = 3             # add days in the daily_fold schedule (an id lands on one of them)
TAKEDOWN_MOD = 7     # takedown k removes ids whose del-hash is k mod this
TWEETS_PER_DAY = 40

# the interactive surface analyst_sql samples: the queries of the SQL
# analytics modules of graft.ops (minus incremental exhibits) and the
# graft.v_* operator views over them, each list taking every
# ANALYST_STRIDE-th name
ANALYST_MODULES = ["Relational", "Aggregates", "Windows", "Scalars"]
ANALYST_STRIDE = 18

# input scale per workload (a directory of the engine's test tables)
SCALE = {"analyst_sql": "sf0.001", "daily_fold": "sf0.001"}


def h64(s):
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def permutation(items, seed):
    return sorted(items, key=lambda i: (h64(f"{i}:{seed}"), i))


def day_of(item_id, seed, days=DAYS):
    return h64(f"{item_id}:{seed}") % days


def takedown_of(item_id, seed, mod=TAKEDOWN_MOD):
    return h64(f"{item_id}:{seed}:del") % mod


def schedule(days=DAYS):
    """daily_fold's steps: day d folds its adds and its takedown batch, then
    the reports are served."""
    return [[f"day:{d}", "serve"] for d in range(days)]


WORDS = ("lakers celtics warriors bucks nuggets heat suns knicks dunk assist rebound "
         "buzzer beater trade rookie playoff overtime clutch defense bench coach").split()


def tweets(seed, day, n=TWEETS_PER_DAY):
    """One add day's tweets as NDJSON lines; about one in eight has empty
    text, which the ingest filter drops."""
    rng = random.Random(f"tweets:{seed}:{day}")
    lines, kept = [], 0
    for i in range(n):
        words = [] if rng.random() < 0.125 else rng.choices(WORDS, k=rng.randint(3, 12))
        tags = rng.sample(WORDS, rng.randint(0, 3))
        rec = {
            "id": f"{seed}-{day}-{i}",
            "text": " ".join(words),
            "created_at": f"2024-03-{day % 28 + 1:02d}T{rng.randint(0, 23):02d}:"
                          f"{rng.randint(0, 59):02d}:00.000Z",
            "public_metrics": {k: rng.randint(0, 500) for k in
                               ("retweet_count", "reply_count", "like_count", "quote_count")},
            "entities": {"hashtags": [{"start": 0, "end": len(t) + 1, "tag": t} for t in tags]},
        }
        kept += bool(words)
        lines.append(json.dumps(rec, sort_keys=True))
    return "\n".join(lines) + "\n", kept


def write_plan(workload, seed, data_root, out_dir):
    """Write plan.json (and the NDJSON a workload needs, at paths relative
    to out_dir) under out_dir; return (plan path, the plan, generated bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    plan = {"workload": workload, "seed": seed, "setup_reps": 2,
            "data_dir": os.path.join(data_root, SCALE[workload])}
    generated = 0
    if workload == "analyst_sql":
        plan["analyst_sql"] = {"modules": ANALYST_MODULES, "stride": ANALYST_STRIDE}
    elif workload == "daily_fold":
        sched = schedule()
        files, rows = {}, {}
        tdir = os.path.join(out_dir, "tweets")
        os.makedirs(tdir, exist_ok=True)
        for d in range(DAYS):
            body, kept = tweets(seed, d)
            name = f"tweets/day_{d:03d}.json"
            with open(os.path.join(out_dir, name), "w") as f:
                f.write(body)
            generated += len(body.encode())
            files[str(d)], rows[str(d)] = name, kept
        plan["daily_fold"] = {"days": DAYS, "takedown_mod": TAKEDOWN_MOD, "schedule": sched,
                              "tweets": files, "tweet_rows": rows}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    path = os.path.join(out_dir, "plan.json")
    with open(path, "w") as f:
        json.dump(plan, f, sort_keys=True, indent=1)
    return path, plan, generated
