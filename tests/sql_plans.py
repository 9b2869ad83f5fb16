"""What a Spark session ran, read back from its SQL status store."""

from __future__ import annotations


def status_store(spark):
    """The session's SQL status store, after every queued listener
    event has reached it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def executions(store) -> set:
    ex = store.executionsList()
    return {ex.apply(i).executionId() for i in range(ex.size())}


def plan_nodes(store, since: set):
    """(execution id, node) for every plan node of the SQL executions
    not in ``since``."""
    for e in executions(store) - since:
        nodes = store.planGraph(e).allNodes()
        for i in range(nodes.size()):
            yield e, nodes.apply(i)


def node_names_run_by(spark, action) -> set[str]:
    """Names of the plan nodes of every SQL execution ``action()`` runs."""
    before = executions(status_store(spark))
    action()
    return {node.name() for _, node in plan_nodes(status_store(spark), before)}
