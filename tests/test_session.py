"""Session factory tests (no JVM: the builder's options are read, not
launched)."""

from pyspark.sql import SparkSession

from hexspark import session


def _options(monkeypatch, extra_conf=None) -> dict:
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    return session.get_spark("t", master="local[1]", extra_conf=extra_conf)


def test_driver_java_opts_compose_base_env_caller(monkeypatch):
    """Base code-cache flag, then HEXSPARK_DRIVER_JAVA_OPTS, then the
    caller's spark.driver.extraJavaOptions — none dropped."""
    key = "spark.driver.extraJavaOptions"
    base = session._BASE_DRIVER_JAVA_OPTS
    monkeypatch.delenv("HEXSPARK_DRIVER_JAVA_OPTS", raising=False)
    assert _options(monkeypatch)[key] == base
    assert _options(monkeypatch, {key: "-XX:+UseParallelGC"})[key] == (
        f"{base} -XX:+UseParallelGC"
    )
    monkeypatch.setenv("HEXSPARK_DRIVER_JAVA_OPTS", "-Dhexspark.env=1")
    assert _options(monkeypatch)[key] == f"{base} -Dhexspark.env=1"
    opts = _options(monkeypatch, {key: "-XX:+UseParallelGC", "spark.x": "1"})
    assert opts[key] == f"{base} -Dhexspark.env=1 -XX:+UseParallelGC"
    assert opts["spark.x"] == "1"
