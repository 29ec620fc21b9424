"""Property-based parity for the round-5 hybrid fast paths: the
driver-side loop and the distributed loop must agree on GENERATED
inputs, not just the hand-picked goldens.

- train_bpe_merges: local (word table collected) vs distributed
  (per-round pair-count shuffle) produce the identical merge list for
  random small corpora over a tiny alphabet (tiny alphabets maximize
  pair-count ties, stressing the deterministic tie-break).
- connected_components: union-find vs pointer jumping produce the
  identical (node, component) labeling for random edge lists
  (self-loops, duplicate and reversed edges included by construction).

Spark job per example is ~0.5-1 s, so example counts stay small; the
strategies bias toward corners (ties, singletons, disconnected nodes).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdata_covid19_real_time_spark.operators import bpe, components
from bigdata_covid19_real_time_spark.operators.bpe import train_bpe_merges
from bigdata_covid19_real_time_spark.operators.components import (
    connected_components,
)

_SETTINGS = dict(max_examples=6, deadline=None,
                 suppress_health_check=list(HealthCheck))

# words over a 3-letter alphabet, 1-6 chars: heavy pair-count ties
words = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=12
)


@settings(**_SETTINGS)
@given(ws=words, n_merges=st.sampled_from([1, 3, 5]))
def test_bpe_local_distributed_parity(spark, ws, n_merges):
    df = spark.createDataFrame([(0, " ".join(ws))], "doc_id long, text string")
    local = train_bpe_merges(df, n_merges=n_merges)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(bpe, "LOCAL_TRAIN_MAX_WORDS", -1)  # force distributed
        dist = train_bpe_merges(df, n_merges=n_merges, checkpoint_every=2)
    assert local == dist


edgelists = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=20,
)


@settings(**_SETTINGS)
@given(edges=edgelists)
def test_cc_local_distributed_parity(spark, edges):
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    local = {
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    }
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components, "LOCAL_CC_MAX_EDGES", -1)  # force distributed
        dist = {
            (r["node"], r["component"])
            for r in connected_components(pairs).collect()
        }
    assert local == dist
    # labels are component minima: every component id labels itself
    comp_ids = {c for _, c in local}
    assert all((c, c) in local for c in comp_ids)
