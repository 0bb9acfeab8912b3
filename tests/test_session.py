"""Session factory: diagnostics stay off stdout."""

from __future__ import annotations


def test_graft_conf_messages_go_to_stderr(spark, monkeypatch, capsys):
    """SPARK_GRAFT_CONF overrides are logged on stderr; stdout stays
    free for the one JSON line a bench driver parses. The override
    repeats a value the test session already has, so the live session
    is left as it was."""
    from cse_datapipeline_and_mls_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CONF", "spark.sql.session.timeZone=UTC;oops")
    get_spark("tests", shuffle_partitions=4)
    out, err = capsys.readouterr()
    assert out == ""
    assert "SPARK_GRAFT_CONF override: spark.sql.session.timeZone=UTC" in err
    assert "SPARK_GRAFT_CONF entry malformed (need k=v): 'oops'" in err
