"""One query-vector intake: a NaN/inf query vector fails fast with
``ValueError`` on every serving entry point (no NaN, None or empty
results), and api.search maps it to its 500 envelope."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from letsearch_spark import api
from letsearch_spark.collection import Collection
from letsearch_spark.config import SEARCH_STRATEGIES

SEARCH_MANY_STRATEGIES = [
    s.batched for s in SEARCH_STRATEGIES.values() if s.batched is not None
]


class _NonFiniteEmbedder:
    """Stub-shaped query embedder: texts containing 'bad' embed to a
    vector holding NaN and +inf, every other text to a finite one."""

    def embed(self, texts):
        out = np.full((len(texts), 16), 0.25, dtype=np.float32)
        for i, t in enumerate(texts):
            if "bad" in t:
                out[i, 0], out[i, 1] = np.nan, np.inf
        return out


@pytest.fixture(scope="module")
def served(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("intake"))
    c = Collection.create(spark, root, name="docs", model_name="stub://16")
    c.import_parquet(os.path.join(sf_dir, "documents.parquet"))
    c.embed_column("text")
    return root, c


@pytest.fixture
def nan_embedder(monkeypatch):
    monkeypatch.setattr(Collection, "_embedder", lambda self: _NonFiniteEmbedder())


CALLS = (
    [
        pytest.param(
            lambda c, s=s: c.search("text", "bad query", limit=5, strategy=s),
            id=f"search-{s}",
        )
        for s in SEARCH_STRATEGIES
    ]
    + [
        pytest.param(
            lambda c, s=s: c.search_many(
                "text", ["fine query", "bad query"], limit=5, strategy=s
            ),
            id=f"search_many-{s}",
        )
        for s in SEARCH_MANY_STRATEGIES
    ]
    + [
        pytest.param(
            lambda c: c.search_rows("text", "bad query", limit=5),
            id="search_rows-local",
        ),
        pytest.param(
            lambda c: c.search_multi("text", ["fine query", "bad query"], limit=5),
            id="search_multi",
        ),
        pytest.param(
            lambda c: c.search_many_multi(
                "text", [["fine query"], ["bad query"]], limit=5
            ),
            id="search_many_multi",
        ),
    ]
)


@pytest.mark.parametrize("call", CALLS)
def test_non_finite_query_vector_raises(served, nan_embedder, call):
    _, c = served
    with pytest.raises(ValueError, match=r"NaN/inf values \(query indexes \[[01]\]\)"):
        out = call(c)
        if hasattr(out, "collect"):  # a lazy plan must not get this far
            out.collect()


def test_non_finite_query_names_its_index(served, nan_embedder):
    _, c = served
    with pytest.raises(ValueError, match=r"query indexes \[1, 3\]"):
        c.search_many("text", ["a", "bad", "b", "bad too"], limit=5)
    # finite queries still serve through the same intake
    assert len(c.search("text", "fine query", limit=5).collect()) == 5


def test_api_search_non_finite_query_is_500(spark, served, nan_embedder):
    root, _ = served
    out = api.search(spark, root, "docs", "text", "bad query", limit=5)
    assert out["status"] == 500
    assert "NaN/inf" in out["data"]["error"]
    json.dumps(out, allow_nan=False)  # the envelope is valid JSON
