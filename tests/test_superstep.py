"""Plan shape of the shared weighted in-neighbour-sum superstep
(queries/graph.py::_in_sum_iterate) behind q_pagerank_iter,
q_ppr_seed and q_katz_centrality: each superstep is the edge⋈state
messages UNION ALL one zero message per node, summed in ONE shuffle
keyed on node — no left join back to the node list. The oracle
differential covers the values; this pins the shape of every superstep
the loops actually cut."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR

_NODE_KEYED = r"Exchange hashpartitioning\(node#\d+, \d+\)"
_SRC_KEYED = r"Exchange hashpartitioning\(src#\d+, \d+\)"
_ITERS = {"q_pagerank_iter": 5, "q_ppr_seed": 3, "q_katz_centrality": 4}


@pytest.mark.parametrize("name", sorted(_ITERS))
def test_superstep_one_union_one_node_shuffle_no_outer_join(spark, name):
    from stockmarketdata_dwb_etl_spark.plans.audit import capture_checkpoints
    from stockmarketdata_dwb_etl_spark.registry import QUERIES, load_all

    load_all()
    with capture_checkpoints() as acc:
        QUERIES[name](spark, SF_DIR)
    assert len(acc.plans) == _ITERS[name]
    for k, nodes in enumerate(acc.plans):
        where = f"{name} superstep {k}:\n" + "\n".join(nodes)
        assert sum(n.startswith("Union") for n in nodes) == 1, where
        joins = [n for n in nodes if re.match(r"\w*Join ", n)]
        assert joins and not any("LeftOuter" in j for j in joins), where
        shuffles = [n for n in nodes if n.startswith("Exchange ")]
        by_node = [n for n in shuffles if re.match(_NODE_KEYED, n)]
        assert len(by_node) == 1, where
        # any other shuffle co-partitions the edge⋈state join on src, a
        # strategy the planner picks from size estimates (a superstep
        # whose inputs are not yet cached plans a sort-merge join)
        assert all(re.match(_SRC_KEYED, n) for n in shuffles if n not in by_node), where
