"""Seeded inputs of the four workloads, and the model the ingest checks use.

Everything here is a function of the seed, so the same seed always gives
the same plan, the same blobs and the same model. Each run does a fixed
amount of work: the query panels are literal lists and the ingest round
has a fixed make-up. The program sees only the plan file and the payload
files written here.
"""
import json
import math
import os
import random
from datetime import datetime, timezone

# One one-shot query from each of Relational, EventOps, TextOps,
# SimilarityOps, SketchOps, MultimodalOps, ExtOps, PrivacyOps, Scalars and
# Streaming, in run order. Neither the set nor the order depends on the
# seed: drawn afresh per seed, five seeds of 12 analytics queries gave
# wall_s from 17.3 s to 28.9 s; with a fixed set in seeded order,
# query_p50_s still spread by 21% and tables' wall_s by 19% (interquartile
# range over median, eight runs), because whichever query runs first
# carries the JVM's warm-up of its code paths. q240 is in no panel: its
# result depends on a 3 s wall-clock sleep and on scheduler timing.
ANALYTICS = ["q149_distinct_rollup", "q133_compaction_plan", "q75_media_features",
             "q161_k_anonymity", "q14_set_ops", "q21_date_funcs", "q251_knn_loo_eval",
             "q153_cms_heavy_hitters", "q388_dim_refresh", "q196_score_auc"]
# Five of the queries whose operator loops over checkpointed rounds
# (k-core q200, k-truss q393, HyperBall q376, HITS q201, LPA q143/q320,
# ALS q378, PageRank q122, connected components q79 and the five queries
# built on its fixpoint, incremental clusters q127, BFS q159).
ITERATIVE = ["q378_rank1_als", "q301_keeper_divergence", "q120_leakage_safe_split",
             "q320_modularity", "q143_lpa_communities"]
# The commit-bound TableOps queries.
TABLES = ["q514_dv_debt_advisor", "q336_table_cdc_diff", "q507_identity_merge_stream",
          "q527_incremental_lsh_index", "q520_incremental_mv_mor"]
PANELS = {"analytics": ANALYTICS, "iterative": ITERATIVE, "tables": TABLES}
# Run inside set-up, before the measured queries, so that the generic JIT
# and class loading of a JVM's first query is not measured.
WARMUP = ["q01_pricing_summary"]

CADENCE_S = 6 * 3600                 # the reference pipeline lands a batch every 6 hours
START = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
BATCH_ROWS = 100                     # the reference's batch: one /posts page
BACKFILL_ROWS = 5000                 # a backfill blob, parsed by a single task
BURST = 6                            # blobs of a backlog that one load drains
# One ingest round, in order. The reference loads each landed blob on its
# own, so single loads are the rule: 17 of the round's 30 fresh blobs come
# through single loads, 12 through two backlog bursts, 1 as a backfill.
# Loads keep getting faster for about the first ten of a JVM, so the loads
# that add no fresh blob come early, and the bursts, whose six blobs share
# one freshness figure, come after that.
INGEST_ROUND = (["single"] * 2 + ["redeliver", "malformed", "rerun", "backfill"]
                + ["single"] * 3 + ["burst"] + ["single"] * 4 + ["burst"] + ["single"] * 8)
FRESH_PER_ROUND = 30
TAIL_PERCENTILE = 66                 # with 30 fresh blobs, 10 lie beyond its nearest rank
MALFORMED = '[{"userId": 7, "id": 70, "title": "cut off", "bo'

WORDS = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
         "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
         "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
         "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
         "fugiat nulla pariatur excepteur sint occaecat cupidatat non proident sunt "
         "culpa qui officia deserunt mollit anim id est laborum").split()


def query_sample(workload, catalog):
    """The named queries of one run, in run order. A panel query missing
    from the catalog is an error: a substitute would make two versions of
    the program run different work."""
    names = {e["name"] for e in catalog}
    missing = [q for q in PANELS[workload] + WARMUP if q not in names]
    if missing:
        raise LookupError(f"queries missing from the catalog: {' '.join(missing)}")
    return list(PANELS[workload])


class Blobs:
    """Posts-shaped blobs (the JSONPlaceholder /posts contract) and the
    rows each one should add to the table."""

    def __init__(self, out_dir, rng):
        self.out_dir = out_dir
        self.rng = rng
        self.next_id = 1
        self.count = 0

    def rows(self, n, rng=None, first_id=None):
        rng = rng or self.rng
        if first_id is None:
            first_id, self.next_id = self.next_id, self.next_id + n
        out = []
        for i in range(first_id, first_id + n):
            title = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 8)))
            body = ". ".join(" ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 12)))
                             for _ in range(rng.randint(2, 4)))
            out.append((rng.randint(1, 10), i, title, body))
        return out

    def write(self, payload):
        self.count += 1
        path = os.path.join(self.out_dir, f"blob{self.count:04d}.json")
        with open(path, "w") as f:
            f.write(payload)
        return path


def payload_of(rows):
    return json.dumps([{"userId": u, "id": i, "title": t, "body": b} for u, i, t, b in rows])


def ingest_plan(seed, out_dir):
    """Plan lines and the expectation for each load.

    One round of INGEST_ROUND loads, in that fixed order: 100-row batches
    each loaded on its own, two bursts of six batches that one load
    drains, a backfill blob of 5,000 rows, one redelivery of loaded
    content under a new name, one malformed blob, one re-run that
    re-lands a loaded blob under its own name; then Load.compact and a
    final load. The seed picks every blob's content; the structure, the
    malformed blob and the final blob do not depend on it, so that a
    run's freshness samples come from the same loads in the same
    positions.

    Returns (lines, loads): `loads` holds, per load in plan order, the
    blobs it drains as (blob id, rows or None for the malformed blob,
    counts as fresh)."""
    rng = random.Random(f"ingest:{seed}")
    blobs = Blobs(out_dir, rng)
    lines, loads = ["round"], []
    landed = []  # (blob id, rows, instant) of blobs already loaded
    clock = [START]

    def land(rows, blob_id, payload=None, at=None):
        path = blobs.write(payload if payload is not None else payload_of(rows))
        if at is None:
            clock[0] += CADENCE_S
            at = clock[0]
        lines.append(f"land\t{blob_id}\t{path}\t{at}")
        return at

    for i, kind in enumerate(INGEST_ROUND):
        drained = []
        if kind == "malformed":
            bid = f"l{i}-malformed"
            land(None, bid, payload=MALFORMED)
            drained.append((bid, None, False))
        elif kind == "rerun":
            bid, rows, at = landed[0]
            land(rows, bid + "-rerun", at=at)
            drained.append((bid + "-rerun", [], False))
        elif kind == "redeliver":
            bid, rows, _ = landed[1]
            land(rows, bid + "-redelivered")
            drained.append((bid + "-redelivered", [], False))
        else:
            for j in range(BURST if kind == "burst" else 1):
                bid = f"l{i}-b{j}"
                rows = blobs.rows(BACKFILL_ROWS if kind == "backfill" else BATCH_ROWS)
                at = land(rows, bid)
                landed.append((bid, rows, at))
                drained.append((bid, rows, True))
        lines.append("load")
        loads.append({"round": 0, "kind": kind, "blobs": drained})
    assert len(landed) == FRESH_PER_ROUND
    lines.append("compact\t2")
    bid = "after-compact"
    final_rows = Blobs(out_dir, random.Random("ingest:fixed")).rows(BATCH_ROWS, first_id=10_000_000)
    land(final_rows, bid)
    lines.append("load")
    loads.append({"round": 0, "kind": "after-compact", "blobs": [(bid, final_rows, True)]})
    return lines, loads


def write_plan(workload, seed, catalog, out_dir):
    """Writes the run's plan and payloads under out_dir; returns
    (plan path, queries, loads)."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "ingest":
        lines, loads = ingest_plan(seed, out_dir)
        # Two throwaway loads: the first loads of a JVM run up to 1.7x slower.
        lines = ["warmup\tload"] * 2 + lines
        queries = []
    else:
        # A query workload lands one batch before its queries and loads it
        # after them: the batch's freshness is what the workload costs it.
        # The seed picks the batch's content.
        queries = query_sample(workload, catalog)
        rng = random.Random(f"{workload}-batch:{seed}")
        blobs = Blobs(out_dir, rng)
        rows = blobs.rows(BATCH_ROWS)
        path = blobs.write(payload_of(rows))
        lines = [f"warmup\t{q}" for q in WARMUP]
        lines += ["round", f"land\tbatch\t{path}\t{START + CADENCE_S}"]
        lines += [f"query\t{q}" for q in queries] + ["load"]
        loads = [{"round": 0, "kind": "single", "blobs": [("batch", rows, True)]}]
    plan = os.path.join(out_dir, "plan.tsv")
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    return plan, queries, loads


def nearest_rank(values, pct):
    """The pct-th percentile by nearest rank: at least (100 - pct)% of the
    values lie at or beyond it."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]
