"""``get_spark`` sizes a local session from the CPUs the process may run
on, not from a fixed core count; checked against a recording stand-in for
``SparkSession.builder``, so no JVM starts."""

from types import SimpleNamespace

from imagery_utils_spark import session


class _Builder:
    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))


def _built_conf(monkeypatch):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setenv("PYTHONPATH", "")  # get_spark prepends the repo root
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda _pid: {0, 1})
    session.get_spark()
    return builder.conf


def test_default_follows_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "2"
    assert session.default_cpus() == 2


def test_env_overrides_affinity(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
