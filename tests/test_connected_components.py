"""connected_keep_ids on paths whose ids are not monotone along the path:
the shape on which min-label propagation without parent hooking moves a
new minimum one edge per round, so its round count grows with the
diameter instead of its logarithm."""

import random

from kiji_mapreduce_spark.pipeline.dedup import connected_keep_ids


def test_shuffled_paths_converge_within_default_budget(spark):
    """Two components in one call, each a path with shuffled ids:
    - the 12-node path a property-test search found (11 rounds before
      parent hooking, over the 10-round budget, so it raised);
    - a 1,000-node path, the ~2^10 diameter the default budget covers.
    Every node must map to its component's minimum id."""
    small = [0, 38, 27, 32, 8, 22, 36, 7, 17, 37, 24, 1]
    rng = random.Random(20)
    big = list(range(1000, 2000))
    rng.shuffle(big)
    edges = [(a, b) for path in (small, big)
             for a, b in zip(path, path[1:])]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.keep_id
           for r in connected_keep_ids(pairs).collect()}
    want = {**{v: 0 for v in small}, **{v: 1000 for v in big}}
    assert got == want
