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

# per-query serving strategies accepted by Collection.search (and the
# CLI's ``search --strategy`` choices); kept here, pyspark-free, so the
# two lists cannot drift apart
SEARCH_STRATEGIES: tuple[str, ...] = (
    "auto", "join", "local", "hybrid", "local_hybrid", "pq", "ivf_pq",
    "hamming", "maxsim",
)


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
