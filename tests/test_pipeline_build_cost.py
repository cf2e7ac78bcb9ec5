"""Driver cost of building the dataset-generation DAG.

``mb_pipeline_scale`` is ONE ``spark.sql`` statement (pipeline.build_stage):
the scale world's tables and the pipeline stages are CTEs over the five
TPC-H tables, so a warm build costs a handful of py4j round trips, not
one or more per Column operation (a Column-composed build made ~8,400).
The five inputs
are bound to ``_pyspark_<uuid>`` temp views that ``spark.sql`` drops once
it has analyzed the statement: no name outlives a build, so a second
build cannot touch the first plan.
"""

from __future__ import annotations

import threading

from py4j.clientserver import ClientServerConnection

from tijdloze_musicbrainz_spark.plans import REGISTRY

# measured: 15 commands per warm build (local[4], sf0.001)
MAX_PY4J_COMMANDS = 50


def test_warm_scale_build_round_trips_and_leaves_no_views(spark, sf_dir, monkeypatch):
    build = REGISTRY["mb_pipeline_scale"].builder
    build(spark, sf_dir)  # warm: the catalog's table plans are cached

    # py4j's finalizer thread releases objects of earlier tests on its own
    # connection; only the building thread's commands are the build's
    builder_thread = threading.get_ident()
    sent = 0
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        nonlocal sent
        sent += threading.get_ident() == builder_thread
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    first = build(spark, sf_dir)
    monkeypatch.undo()
    assert sent <= MAX_PY4J_COMMANDS, f"warm build sent {sent} py4j commands"

    second = build(spark, sf_dir)
    assert first.count() > 0
    assert first.schema == second.schema
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")]
    assert views == []
