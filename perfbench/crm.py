"""The ``crm`` workload: the pipeline's day-0 load, then reports over its store.

Set-up generates the day-0 feeds (three times, into a fresh directory; the
last copy is used).  The first pipeline run is the first Spark work of the
session, as it is for a user.  The timed part is

1. the day-0 full load: ``pipeline.run_pipeline`` plus its verify stats
   (reported as ``write_cpu_s``);
2. one pass of a seeded report mix over the store the run wrote, each call
   planned by ``plans.reporting`` / ``plans.temporal_reporting`` and executed
   with ``collect()`` (reported as ``read_cpu_ms``); then the pass's two
   cheapest calls run again.

A daily incremental run (``scd2_merge`` against the stored tables) is not
part of the schedule: it costs as much as the full load, and a run cannot
afford both (see perfbench/README.md).  The schedule is fixed, whatever the
host's speed.  Caches are released after every operation.

Checks: the run's verify stats and, at the end, the node and edge changelogs
equal the generator's truth; every repeated report call returns the same
rows; the owner roll-up and the deals-by-company roll-up equal the
generator's truth.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time

from clock import Clock
from gen_crm import CrmGenerator, CrmSpec

SETUP_REPS = 3
REPEATED = 2  # the last calls of the mix, the cheapest, run twice per pass


def _live_graph(spark, store: str):
    from pyspark.sql import functions as F

    from hubspot_neo4j_pipeline_spark.plans.reporting import GraphTables
    from hubspot_neo4j_pipeline_spark.plans.temporal_reporting import TemporalStore

    def read(*parts):
        return spark.read.parquet(os.path.join(store, *parts))

    labels = sorted(os.listdir(os.path.join(store, "nodes")))
    current = {label: read("nodes", label) for label in labels}
    live = F.col("is_current") & ~F.col("is_deleted")
    graph = GraphTables(
        nodes={label: df.where(live) for label, df in current.items()},
        edges=read("edges").unionByName(read("edges_immutable")),
    )
    # a day-0 store has no closed-out versions yet, so no history tables
    temporal = TemporalStore(
        current=current,
        history={},
        changelog={label: read("changelog", label) for label in labels},
        edge_changelog=read("edge_changelog"),
    )
    return graph, temporal


def _report_calls(gen: CrmGenerator, rng: random.Random):
    """(key, layer, builder(graph, temporal)) for one pass of the report mix."""
    from hubspot_neo4j_pipeline_spark.plans import reporting as R
    from hubspot_neo4j_pipeline_spark.plans import temporal_reporting as T

    contact = rng.choice(gen.live_contacts())
    days = rng.choice([3, 7, 30])
    return [
        ("all_owners_summary", "reporting", lambda g, t: R.all_owners_summary(g)),
        (f"recent_email_activity:{days}", "reporting",
         lambda g, t: R.recent_email_activity(g, days)),
        (f"conversion_funnel:{days}", "reporting",
         lambda g, t: R.conversion_funnel(g, days)),
        ("campaign_performance", "reporting", lambda g, t: R.campaign_performance(g)),
        ("temporal_statistics", "temporal_reporting",
         lambda g, t: T.get_temporal_statistics(t)),
        ("deals_by_company", "reporting", lambda g, t: R.deals_by_company(g, 10)),
        # the REPEATED cheapest calls come last
        (f"entity_relationship_history:{contact}", "temporal_reporting",
         lambda g, t: T.get_entity_relationship_history(t, contact)),
        ("relationship_change_statistics", "temporal_reporting",
         lambda g, t: T.get_relationship_change_statistics(t)),
    ]


def _digest(rows) -> str:
    return hashlib.sha256("\n".join(sorted(repr(r) for r in rows)).encode()).hexdigest()


def run(spark, rec, run) -> None:
    from pyspark.sql import functions as F

    from hubspot_neo4j_pipeline_spark.operators.caching import release_caches
    from hubspot_neo4j_pipeline_spark.pipeline import read_all_feeds, run_pipeline

    # -- set-up ------------------------------------------------------------------
    spec = CrmSpec(contacts=max(100, int(CrmSpec.contacts * run.scale)))
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        shutil.rmtree(os.path.join(run.workdir, "feeds"), ignore_errors=True)
        gen = CrmGenerator(os.path.join(run.workdir, "feeds"), run.seed, spec)
        day0 = gen.next_day()
        run.setup_s.append(time.perf_counter() - t)
    store = os.path.join(run.workdir, "store")
    run.stores = [store]
    rng = random.Random(run.seed)

    def release():
        release_caches()
        spark.catalog.clearCache()

    digests: dict[str, str] = {}

    def report_pass(calls, graph, temporal) -> None:
        for key, layer, build in calls:
            with Clock() as c:
                with rec.span(f"{layer}.plan"):
                    df = build(graph, temporal)
                with rec.span(f"{layer}.exec"):
                    rows = df.collect()
            run.reads.append(c)
            release()
            d = _digest(rows)
            run.expect(f"report {key} repeatable", d, digests.setdefault(key, d))
            if key == "all_owners_summary":
                got = {
                    r["owner_email"]: (r["contacts_owned"], r["companies_owned"],
                                       r["deals_owned"])
                    for r in rows
                }
                run.expect("owner roll-up", got, gen.owner_counts())
            elif key == "deals_by_company":
                got = [(r["company_id"], r["deal_count"], r["total_value"]) for r in rows]
                run.expect("deals by company", got, gen.deals_by_company(10))

    # -- timed part ----------------------------------------------------------------
    rec.reset()
    with Clock() as c, rec.span("pipeline.run_pipeline"):
        res = run_pipeline(spark, read_all_feeds(spark, day0.path), store, day0.now)
        stats = res.stats.collect()
    run.writes.append(c)
    release()
    got = {r["label"]: {"live": r["live"], "deleted": r["deleted"]} for r in stats}
    run.expect("day 0 stats", got, day0.truth["stats"])
    calls = _report_calls(gen, rng)
    tables = _live_graph(spark, store)
    report_pass(rng.sample(calls, len(calls)), *tables)
    report_pass(calls[-REPEATED:], *tables)

    # -- changelog check ---------------------------------------------------------
    # one query over every changelog; the edge changelog is the "edges" label
    logs = spark.read.parquet(os.path.join(store, "edge_changelog")).select(
        F.lit("edges").alias("label"), "change_type"
    )
    for label in sorted(os.listdir(os.path.join(store, "changelog"))):
        logs = logs.unionByName(
            spark.read.parquet(os.path.join(store, "changelog", label)).select(
                F.lit(label).alias("label"), "change_type"
            )
        )
    got = {}
    for r in logs.groupBy("label", "change_type").count().collect():
        got.setdefault(r["label"], {})[r["change_type"]] = r["count"]
    want = {k: v for k, v in day0.truth["node_changes"].items() if v}
    if day0.truth["edge_changes"]:
        want["edges"] = day0.truth["edge_changes"]
    run.expect("day 0 changelogs", got, want)
    if rec.enabled:
        jobs = sum(
            rec.totals(f"{layer}.{phase}")["jobs"]
            for layer in ("reporting", "temporal_reporting")
            for phase in ("plan", "exec")
        )
        run.counters["run.jobs_per_read"] = jobs / len(run.reads)
