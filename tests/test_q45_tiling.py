"""The numpy cosine kernels (similarity.cosine4_tiles) evaluate the score
matrix in fixed-size tiles (bounded per-task memory at any block size —
the 100× scale step OOMed q45's un-tiled form, whose transient matrix was
quadratic in the block size). Tiling must be result-invariant: shrink the
tile far below the fixture block size and the emitted rows must be
identical, for q45's block pairs and for q142/q143's label-block strips."""

from __future__ import annotations

import pytest

from pandaspark.queries import REGISTRY, pipeline10, similarity

from .conftest import SF_DIR


def _rows(spark, name):
    df = REGISTRY[name].fn(spark, SF_DIR)
    return sorted(tuple(r) for r in df.collect())


# each kernel caller and the module global holding its tile width
_WIDTHS = {
    "q45_cosine_neardup": (similarity, "_Q45_TILE"),
    "q142_mutual_nn": (pipeline10, "_NN_STRIP"),
    "q143_margin_mining": (pipeline10, "_NN_STRIP"),
}


@pytest.mark.parametrize("name", sorted(_WIDTHS))
def test_tile_boundary_invariance(spark, monkeypatch, name):
    base = _rows(spark, name)
    assert base, "fixture must yield rows or the test is vacuous"
    monkeypatch.setattr(*_WIDTHS[name], 7)
    assert _rows(spark, name) == base
