"""Engine configuration — the reference's YAML surface, Spark-side.

Mirrors the pydantic ``Settings``/``Sync`` models
(meilisync/settings.py:39-81): per-table sync rules with projection/
rename (``fields``), primary key (``pk``, default ``"id"``), routing
(``table → index``, index defaults to the table name,
settings.py:58-60), full-snapshot flag, batching knobs
(``insert_size`` / ``insert_interval``, settings.py:21-22) and plugin
hook chains (settings.py:28-36).

The config *is* the reference's whole query language — there is no plan
tree (SURVEY.md §3). Here it compiles onto DataFrame ops: ``fields`` →
``select/alias``, routing → per-sync writers, knobs → Structured
Streaming trigger/batch sizing.
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass, field
from typing import Any, Callable

try:  # optional — config files can also be built programmatically
    import yaml  # type: ignore
except Exception:  # pragma: no cover
    yaml = None


@dataclass
class Sync:
    """One per-table pipeline spec (≡ meilisync/settings.py:39-51)."""

    table: str
    pk: str = "id"
    full: bool = False
    index: str | None = None
    fields: dict[str, str | None] | None = None
    plugins: list[str] = field(default_factory=list)
    # engine extension (no reference analogue): per-sync bucket count
    # for the incremental index layout — size buckets per table so each
    # fits an executor; None inherits the pipeline-level setting
    buckets: int | None = None

    @property
    def index_name(self) -> str:
        # index defaults to the table name (settings.py:58-60)
        return self.index or self.table


@dataclass
class SinkSettings:
    """Sink batching knobs (≡ meilisync/settings.py:18-22).

    Note the reference quirk Q3 (SURVEY.md): ``insert_interval`` without
    ``insert_size`` crashes its size check (main.py:115). Here either
    knob alone is valid: size → micro-batch admission sizing, interval →
    ``trigger(processingTime)``; both unset → per-event mode ≡ smallest
    trigger.
    """

    index_path: str = "/tmp/meilisync_spark_index"
    insert_size: int | None = None
    insert_interval: float | None = None


@dataclass
class ProgressSettings:
    """Ops-mirror store config (≡ meilisync/settings.py:53-57's
    ``Progress`` with its extra-allowed per-type kwargs). The resume
    position itself lives in checkpointLocation — see
    :mod:`meilisync_spark.progress` for the division of labor."""

    type: str = "file"  # "file" | "redis"
    path: str = "progress.json"  # file store
    dsn: str = "redis://localhost:6379/0"  # redis store
    key: str = "meilisync:progress"


@dataclass
class Sentry:
    """Error-reporting config (≡ meilisync/settings.py:58-61)."""

    dsn: str
    environment: str = "production"


@dataclass
class Settings:
    sink: SinkSettings = field(default_factory=SinkSettings)
    syncs: list[Sync] = field(default_factory=list)
    plugins: list[str] = field(default_factory=list)  # global plugin chain
    # ops surface (≡ meilisync/settings.py:63-71): progress mirror,
    # debug logging, sentry error reporting
    progress: ProgressSettings | None = None
    debug: bool = False
    sentry: Sentry | None = None

    def get_sync(self, table: str) -> Sync | None:
        """Route an event's table to its sync rule (P3,
        meilisync/settings.py:78-81 / main.py:107-109)."""
        for s in self.syncs:
            if s.table == table:
                return s
        return None

    @property
    def tables(self) -> list[str]:
        return [s.table for s in self.syncs]

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "Settings":
        sink = SinkSettings(**d.get("sink", {}))
        syncs = [Sync(**s) for s in d.get("sync", [])]
        progress = (
            ProgressSettings(**d["progress"]) if d.get("progress") else None
        )
        sentry = Sentry(**d["sentry"]) if d.get("sentry") else None
        return cls(
            sink=sink,
            syncs=syncs,
            plugins=d.get("plugins", []),
            progress=progress,
            debug=bool(d.get("debug", False)),
            sentry=sentry,
        )

    @classmethod
    def for_index(cls, index_path: str, pk: str = "user_id") -> "Settings":
        """One ``full: true`` sync (table ``users``) writing straight to
        ``index_path`` — the shape of a ``start`` without a sync config."""
        root, name = os.path.split(os.path.normpath(index_path))
        return cls(
            sink=SinkSettings(index_path=root),
            syncs=[Sync(table="users", pk=pk, full=True, index=name)],
        )

    @classmethod
    def from_yaml(cls, path: str) -> "Settings":
        if yaml is None:  # pragma: no cover
            raise RuntimeError("pyyaml not available; use Settings.from_dict")
        with open(path) as f:
            return cls.from_dict(yaml.safe_load(f))


def load_plugin(dotted: str) -> Callable:
    """Import a plugin hook by dotted path (≡ meilisync/plugin.py:20-22).

    A plugin here is a pure batch transform ``DataFrame -> DataFrame``
    applied inside ``foreachBatch`` (U1/U2 as vectorized transforms, not
    per-row async hooks — SURVEY.md §2.10; the reference's
    drop-the-return quirk U3 is deliberately not replicated).
    """
    mod, _, name = dotted.rpartition(".")
    return getattr(importlib.import_module(mod), name)
