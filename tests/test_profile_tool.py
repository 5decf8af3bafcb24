"""tools/layers.py: one layered record per query, from a clean state,
with the py4j counter removed afterwards."""

from __future__ import annotations

import importlib.util
import os

from py4j.java_gateway import GatewayClient

import __spark_entry__ as entrymod

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "layers.py",
)


def _load_tool():
    # tools/ is a directory of scripts, not a package
    spec = importlib.util.spec_from_file_location("layers", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_one_clean_layered_record_per_query(spark):
    tool = _load_tool()
    send = GatewayClient.send_command
    jsc = spark.sparkContext._jsc.sc()
    pinned = jsc.getPersistentRDDs().size()

    recs = tool.profile(
        spark, entrymod.SF_DEFAULT, ["filtered_count", "mad_outliers"], runs=1
    )

    assert sorted(recs) == ["filtered_count", "mad_outliers"]
    for name, rec in recs.items():
        assert rec["build_rt"] > 0, name
        assert rec["jobs"] >= 1, name
        assert rec["stages"] >= rec["jobs"], name
        assert len(rec["job_ms"]) == rec["jobs"], name
        assert max(rec["job_ms"]) <= rec["job_busy_ms"] <= sum(rec["job_ms"])
        for phase in ("analysis_ms", "optimization_ms", "planning_ms"):
            assert rec[phase] >= 0, (name, phase)
        assert rec["rows"] >= 1, name
    assert recs["filtered_count"]["cached_read"] is False
    assert recs["mad_outliers"]["cached_read"] is True
    assert jsc.getPersistentRDDs().size() == pinned
    assert GatewayClient.send_command is send


def test_memory_releases_counted_apart(spark):
    # py4j's finalizer sends a release whenever the garbage collector
    # frees a proxy; build_rt must not move with them
    from py4j import protocol

    tool = _load_tool()
    client = spark.sparkContext._gateway._gateway_client
    jlist = spark.sparkContext._jvm.java.util.ArrayList()
    release = (
        protocol.MEMORY_COMMAND_NAME
        + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        + jlist._target_id
        + "\ne\n"
    )
    with tool._counted_round_trips() as rt:
        assert jlist.size() == 0
        client.send_command(release)
    assert rt["calls"] == 1
    assert rt["releases"] >= 1
