from __future__ import annotations

import random
import uuid
from dataclasses import dataclass

import pytest
from pyspark.sql import DataFrame

from datalake_spark.session import get_spark, released

SF_DIR = "/root/testdata/sf0.001"

# streaming / iterative / driver-loop queries build side-effecting or
# multi-job plans that can't be captured as one static DataFrame plan
DYNAMIC = {"streaming_ingest_e2e", "dedup_clusters", "embedding_dedup_clusters"}


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


def surface():
    """(name, build) of every registry entry and battery sub, by name."""
    from datalake_spark.queries import registry
    from datalake_spark.queries.batteries import BATTERY_SUBS

    qs = {q.name: q.build for q in registry()}
    for subs in BATTERY_SUBS.values():
        for sub in subs:
            qs.setdefault(sub.q.name, sub.q.build)
    return sorted(qs.items())


def count_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status tracker asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def rdd_ids(spark) -> set:
    """Ids of the session's persistent RDDs (cached or checkpointed)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@dataclass
class Built:
    df: DataFrame
    jobs: int              # Spark jobs launched while building
    analyzed_chars: int
    executed_plan: str     # taken inside the scope, caches in place
    leaked_rdds: set       # persistent RDD ids left after the scope
    leaked_cache: bool     # a cacheManager entry left after the scope


@pytest.fixture(scope="session")
def built_surface(spark) -> dict[str, Built]:
    """Every surface entry but DYNAMIC, built once per session inside a
    ``released()`` scope under its own job group.  The plan-hygiene
    sweep and the battery schema check both read it, so no entry's
    build-time jobs run twice."""
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = {}
    for name, build in surface():
        if name in DYNAMIC:
            continue
        group = f"plan-hygiene-{name}"
        before = rdd_ids(spark)
        with released():
            sc.setJobGroup(group, name)
            try:
                df = build(spark, SF_DIR)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            qe = df._jdf.queryExecution()
            analyzed_chars = len(qe.analyzed().toString())
            plan = qe.executedPlan().toString()
        # job events reach the status tracker asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out[name] = Built(
            df, len(sc.statusTracker().getJobIdsForGroup(group)),
            analyzed_chars, plan, rdd_ids(spark) - before,
            not cache.isEmpty(),
        )
        # a leak is charged to the entry that made it, not its successors
        spark.catalog.clearCache()
    return out


def random_metadata(rng: random.Random, **overrides) -> dict:
    """Random-but-valid metadata, modeled on the reference's generator
    (client/datalake/tests/conftest.py:60-100): start in 2010-2015, duration
    <= 3 days, random slugs, 50% null work_id."""
    start = rng.randint(1262304000000, 1420070400000)
    end = start + rng.randint(0, 3 * 86400000)
    m = {
        "version": 0,
        "start": start,
        "end": end if rng.random() > 0.2 else None,
        "what": rng.choice(["nginx", "syslog", "app"]),
        "where": rng.choice([f"host{i}" for i in range(10)]),
        "id": uuid.uuid4().hex,
        "hash": uuid.uuid4().hex,
        "path": "/var/log/syslog",
        "work_id": rng.choice([None, f"job{rng.randint(0, 5)}"]),
    }
    m.update(overrides)
    return m


@pytest.fixture(autouse=True)
def fsck_after_every_mutation(request):
    """Every catalog a test builds gets a deep fsck at teardown —
    individual features have their own tests, but the invariant sweep
    after each SEQUENCE catches cross-feature interactions for free
    (repo-wide since r6: streaming ingest, CLI, archive, and spool
    tests all mutate catalogs too).  Tests that deliberately corrupt
    state opt out with @pytest.mark.no_fsck."""
    from datalake_spark.catalog import Catalog

    made: list = []
    orig = Catalog.__init__

    def recording(self, *a, **k):
        orig(self, *a, **k)
        made.append(self)

    Catalog.__init__ = recording
    try:
        yield
    finally:
        Catalog.__init__ = orig
    if request.node.get_closest_marker("no_fsck") or not made:
        return
    seen: set = set()
    for cat in made:
        if cat.root in seen or not cat.store.exists_prefix(""):
            continue
        seen.add(cat.root)
        report = cat.fsck(deep=True)
        assert report["ok"], (
            f"post-test fsck violations in {cat.root}: {report['problems']}"
        )
