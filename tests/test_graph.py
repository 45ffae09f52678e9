"""Graph operator tests: triangle counting and BFS free what they cache."""

from __future__ import annotations

from ub_etl_spark.operators.graph import bfs_distances, count_triangles
from ub_etl_spark.session import release_persisted

# two triangles sharing the edge (1, 2), plus a pendant edge (3, 4)
EDGES = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (3, 4)]


def test_count_triangles_releases_its_persisted_frames(spark):
    release_persisted()
    edges = spark.createDataFrame(EDGES, "u long, v long")
    row = count_triangles(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_triangles) == (5, 6, 2)
    # edges, deg, oriented and adj are tracked, not leaked
    assert release_persisted() >= 4


def test_bfs_distances_releases_its_frontiers(spark):
    release_persisted()
    edges = spark.createDataFrame(EDGES, "u long, v long")
    seed = spark.createDataFrame([(0,)], "node long")
    got = {(r.node, r.dist) for r in bfs_distances(edges, seed).collect()}
    assert got == {(0, 0), (1, 1), (2, 1), (3, 2), (4, 3)}
    # seed level + three non-empty frontiers + the drained one
    assert release_persisted() >= 4
