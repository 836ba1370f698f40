"""Collection configuration with the reference's serde-default semantics.

Reference: ``CollectionConfig`` (collection_utils.rs:13-57) -- every field
has a default, so a ``{}`` config file is valid. The reference never
*writes* config.json (SURVEY.md §1.3, a gap); we write it atomically at
collection-create time.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class Strategy:
    """What the serving entry points read about one per-query strategy."""

    # the name Collection.search_many serves it under, or None when it
    # has no batched form
    batched: str | None
    # accepts where= (the predicate pre-filters before ranking)
    where: bool
    # serves from driver RAM, no Spark job per query
    local: bool = False


# the serving strategy table: its keys are the names Collection.search,
# search_rows and the CLI's ``search --strategy`` accept, its batched
# names the ones search_many accepts. Pyspark-free, so the CLI reads it
# without starting Spark. 'auto' with where= lands on 'join' ('dense'
# batched), the exact strategy that pre-filters.
SEARCH_STRATEGIES: dict[str, Strategy] = {
    "auto": Strategy(batched="auto", where=True),
    "join": Strategy(batched="dense", where=True),
    "local": Strategy(batched=None, where=False, local=True),
    "hybrid": Strategy(batched="hybrid", where=False),
    "local_hybrid": Strategy(batched=None, where=False, local=True),
    "pq": Strategy(batched="pq", where=False),
    "ivf_pq": Strategy(batched="ivf_pq", where=False),
    "hamming": Strategy(batched="hamming", where=True),
    "maxsim": Strategy(batched=None, where=True),
}


@dataclass
class CollectionConfig:
    # defaults mirror collection_utils.rs:30-45
    name: str = "default"
    index_columns: list[str] = field(default_factory=lambda: ["text"])
    model_name: str = "hf://mys/minilm"
    model_variant: str = "f32"
    db_path: str = "data.db"
    index_dir: str = "index"
    serialization_version: int = 1

    @classmethod
    def from_dict(cls, d: dict) -> "CollectionConfig":
        known = {f for f in cls.__dataclass_fields__}  # type: ignore[attr-defined]
        return cls(**{k: v for k, v in d.items() if k in known})

    @classmethod
    def load(cls, path: str) -> "CollectionConfig":
        with open(path) as f:
            return cls.from_dict(json.load(f))

    def save(self, path: str) -> None:
        """Atomic write (tmp file + rename) so readers never see a torn file."""
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(asdict(self), f, indent=2)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
