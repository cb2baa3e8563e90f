import pytest
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from haskellpagerank_spark.plans.checkpoint import CheckpointManager
from haskellpagerank_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small local session: tests verify semantics, not throughput. The
    # suite is one long session, where tiered C1+C2 beats the C1-only
    # default (session.py, "JIT tier").
    return get_spark(app_name="hpr-tests", cores=4, shuffle_partitions=4,
                     extra_conf={"spark.driver.extraJavaOptions":
                                 "-XX:TieredStopAtLevel=4"})


@pytest.fixture
def released(spark, monkeypatch):
    """``released(rdds)`` asserts that every frame passed to
    ``DataFrame.persist`` so far ends uncached and, with ``rdds``, that the
    session's persisted RDDs gained no id. The DataFrame tiers' per-sweep
    localCheckpoint RDDs stay registered until the JVM collects them, so
    only the tiers that sweep a cached RDD compare ids."""
    jsc = spark.sparkContext._jsc
    persisted = []
    persist = ClassicDataFrame.persist

    def spy(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "persist", spy)
    before = set(jsc.getPersistentRDDs().keys())

    def check(rdds: bool) -> None:
        assert not [df for df in persisted if df.is_cached]
        if rdds:
            assert set(jsc.getPersistentRDDs().keys()) <= before

    return check


@pytest.fixture
def fail_second_write(monkeypatch):
    """Calling it makes the second sweep of every later run raise: the
    fixpoint driver calls one ``CheckpointManager`` write entry point once
    per sweep, with or without a ``checkpoint_dir`` (``write_vector`` for a
    driver-resident vector, ``write`` otherwise). Every ``write*`` method
    is patched, and the test fails unless the injected failure fired."""
    fired = []

    def failing(write):
        def wrapper(self, state, metrics, *args, **kwargs):
            if metrics.iteration == 2:
                fired.append(metrics)
                raise OSError("injected snapshot failure")
            return write(self, state, metrics, *args, **kwargs)
        return wrapper

    armed = []

    def arm():
        armed.append(True)
        for name in [n for n in vars(CheckpointManager)
                     if n.startswith("write")]:
            monkeypatch.setattr(CheckpointManager, name,
                                failing(getattr(CheckpointManager, name)))

    yield arm
    if armed:
        assert fired, "the injected snapshot failure never fired"
