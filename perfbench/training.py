"""``training`` workload: the paper's pipeline, ``produce_training_examples``
at its default ``max_history=1000``, written to the noop sink.

Each pass reads a fresh copy of the four generated tables through
``sources.readers.read_table``, so no reader-side cache keyed on path or
file identity can carry from one pass to the next.

The check is independent of the program: a pure-Python model of the
documented contract, run over a seeded sample of customers that covers
every planted edge case, plus whole-output properties derived from the
generator's own counts.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

import gen

TABLES = ("impressions", "clicks", "add_to_carts", "orders")
K = 1000
HORIZON_DAYS = 365
# customers and rankings generated per run
N_CUSTOMERS = 1500
N_RANKINGS = 2250
SAMPLE = 40       # random customers checked against the model
EDGE_SAMPLE = 8   # customers checked per planted edge case


class Training:
    ops_per_pass = 1
    # The JIT keeps speeding warm passes up over the first ~15 (2.7 s down
    # to ~1.5 s): pass_s is the median of the warm passes after the first
    # two, and a fixed minimum keeps their number the same from run to run.
    ramp_passes = 2
    min_passes = 6  # the cold pass, the ramp and three measured passes

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.tables = gen.training_tables(seed, N_CUSTOMERS, N_RANKINGS)
        self.master = os.path.join(work, "training_master")
        gen.write_training(self.master, self.tables)
        self.last_dir = None

    def prepare_pass(self, i: int) -> str:
        d = os.path.join(self.work, f"training_{i}")
        shutil.copytree(self.master, d)
        return d

    def run_pass(self, d: str) -> None:
        from pyspark_coding_challenge_spark.plans.training import (
            produce_training_examples,
        )
        from pyspark_coding_challenge_spark.sources.readers import read_table

        t = self.tracer
        with t.span("sources.read"):
            tabs = [read_table(self.spark, d, n) for n in TABLES]
        with t.span("plans.build"):
            df = produce_training_examples(*tabs)
        t.planning(df)
        with t.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        self.last_dir = d

    # -- check ----------------------------------------------------------------

    def check(self) -> list[str]:
        """Run the pipeline once more on the last pass's inputs and compare
        it with the model; returns a list of failures (empty when correct).
        Also proves the check rejects corrupted output."""
        from pyspark.sql import functions as F

        from pyspark_coding_challenge_spark.plans.training import (
            produce_training_examples,
        )
        from pyspark_coding_challenge_spark.sources.readers import read_table

        tabs = [read_table(self.spark, self.last_dir, n) for n in TABLES]
        out = produce_training_examples(*tabs)
        sample = sorted(self.sample_customers())
        mine = out.where(F.col("customer_id").isin(sample))
        # items and histories apart: one history per (customer, day), not
        # one per impression item, crosses into Python
        items = [tuple(r) for r in mine.drop("actions", "action_types").collect()]
        hists = {(r[0], r[1]): (tuple(r[2]), tuple(r[3])) for r in mine.select(
            "customer_id", "dt", "actions", "action_types").distinct().collect()}
        props = out.agg(
            F.count("*").alias("rows"),
            F.min(F.size("actions")).alias("min_a"),
            F.max(F.size("actions")).alias("max_a"),
            F.min(F.size("action_types")).alias("min_t"),
            F.max(F.size("action_types")).alias("max_t"),
            F.sum("label").alias("labels"),
        ).collect()[0].asDict()

        want_items, want_hists = self.model(set(sample))
        failures = self.compare(items, hists, want_items, want_hists, props)
        # self-test: each corruption must be caught
        key = min(hists)
        acts, types = hists[key]
        corruptions = {
            "history value": (items, {**hists, key: ((acts[0] + 1,) + acts[1:], types)},
                              props),
            "missing row": (items[1:], hists, props),
            "row count": (items, hists, {**props, "rows": props["rows"] + 1}),
            "array length": (items, hists, {**props, "min_a": K - 1}),
            "label sum": (items, hists, {**props, "labels": props["labels"] - 1}),
        }
        for what, (i, h, p) in corruptions.items():
            if not self.compare(i, h, want_items, want_hists, p):
                failures.append(f"self-test: a corrupted {what} was not rejected")
        return failures

    def compare(self, items, hists, want_items, want_hists, props) -> list[str]:
        fails = []
        if sorted(items, key=repr) != sorted(want_items, key=repr):
            fails.append(f"training rows differ from the model "
                         f"({len(items)} vs {len(want_items)} rows)")
        if hists != want_hists:
            bad = sum(1 for k in want_hists if hists.get(k) != want_hists[k])
            fails.append(f"{bad} of {len(want_hists)} histories differ from the model")
        imps = self.tables["impressions"]
        exp_rows = sum(max(1, len(imp[3] or [])) for imp in imps)
        exp_labels = sum(1 for imp in imps for it in (imp[3] or [])
                         if it["is_order"])
        if props["rows"] != exp_rows:
            fails.append(f"row count {props['rows']} != {exp_rows}")
        if not (props["min_a"] == props["max_a"] == props["min_t"]
                == props["max_t"] == K):
            fails.append("an output array is not of length 1000")
        if props["labels"] != exp_labels:
            fails.append(f"label sum {props['labels']} != {exp_labels}")
        return fails

    # -- the model --------------------------------------------------------------

    def sample_customers(self) -> set[int]:
        """Customers covering every planted edge case, plus a seeded random
        sample of the rest."""
        imps = self.tables["impressions"]
        rng = random.Random(self.seed * 7 + 11)

        def some(cs):
            cs = sorted(set(cs))
            return set(rng.sample(cs, min(EDGE_SAMPLE, len(cs))))

        edge = {1, 2}  # heavy: more than 1000 actions in the horizon
        edge.add(3)    # owns the NULL-item and NULL-time action rows
        edge |= some(c for _, _, c, _ in imps if c % 10 == 0)  # no actions
        edge |= some(c for _, rid, c, _ in imps if rid is None)
        edge |= some(c for _, _, c, items in imps if items == [])
        edge |= some(c for _, _, c, items in imps if items is None)
        pool = sorted({c for _, _, c, _ in imps} - edge)
        return edge | set(rng.sample(pool, min(SAMPLE, len(pool))))

    def model(self, customers: set[int]) -> tuple[list[tuple], dict]:
        """The documented contract, in plain Python: for each impression
        item, the customer's actions from the 365 days strictly before the
        impression day, most recent first, ties broken by item id then
        action type, cut to 1000 and padded with zeros."""
        acts: dict[int, list] = {}
        for kind, rows in ((1, self.tables["clicks"]),
                           (2, self.tables["add_to_carts"]),
                           (3, self.tables["orders"])):
            for r in rows:
                cust, item, ts = r[1], r[2], r[-1]
                if cust in customers and item is not None and ts is not None:
                    acts.setdefault(cust, []).append((ts, item, kind))
        for v in acts.values():
            v.sort(key=lambda a: (-a[0].timestamp(), a[1], a[2]))

        items_out, hists = [], {}
        for day, rid, cust, items in self.tables["impressions"]:
            if cust not in customers:
                continue
            d = dt.date.fromisoformat(day)
            lo = d - dt.timedelta(days=HORIZON_DAYS)
            hist = [a for a in acts.get(cust, [])
                    if lo <= a[0].date() < d][:K]
            ids = tuple([a[1] for a in hist] + [0] * (K - len(hist)))
            types = tuple([a[2] for a in hist] + [0] * (K - len(hist)))
            hists[(cust, day)] = (ids, types)
            if not items:
                items_out.append((day, rid, cust, None, None, 0))
            for pos, it in enumerate(items or []):
                items_out.append((day, rid, cust, pos, it["item_id"],
                                  int(it["is_order"])))
        return items_out, hists
