"""Layered engine configuration (SURVEY §2.A5).

The reference layers ``config.json`` defaults under command-line
``--section-key value`` overrides (reference src/index.mts:10-26,
src/tally.mts:44-67, src/database.mts:28-58). Same model here: defaults →
config file → override mapping/CLI, merged section-wise, with the same
section/key vocabulary so a reference user's config carries over.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

# reference config.json shape (README.md:188-258)
DEFAULTS: dict[str, dict[str, Any]] = {
    "database": {
        "technology": "parquet",      # + mssql/mysql/postgres/csv/json/bigquery/adls
        "server": "localhost",
        "port": 0,
        "schema": "tallydb",
        "username": "",
        "password": "",
        "loadmethod": "insert",
    },
    "tally": {
        "definition": "tally-export-config.yaml",
        "server": "localhost",
        "port": 9000,
        "fromdate": "auto",
        "todate": "auto",
        "sync": "full",               # full | incremental
        "frequency": 0,               # minutes; 0 = one-shot
        "company": "",
    },
}


@dataclass
class EngineConfig:
    sections: dict[str, dict[str, Any]] = field(default_factory=dict)

    def get(self, section: str, key: str) -> Any:
        return self.sections[section][key]

    def __getitem__(self, section: str) -> dict[str, Any]:
        return self.sections[section]


def _coerce(old: Any, new: str) -> Any:
    """CLI override values arrive as strings; coerce to the default's type
    (the reference relies on JS loose typing; we pin it down)."""
    if isinstance(old, bool):
        return new.lower() in ("1", "true", "yes")
    if isinstance(old, int) and not isinstance(old, bool):
        try:
            return int(new)
        except ValueError:
            return new
    return new


def load_config(config_json: str | None = None,
                cli_args: list[str] | None = None) -> EngineConfig:
    """defaults ← config file ← ``--section-key value`` CLI overrides
    (e.g. ``--tally-fromdate 2024-04-01``), exactly the reference's
    precedence (src/index.mts:10-26). ``database.format`` may only be
    ``manifest``; any other value raises ``ValueError``."""
    merged = {s: dict(kv) for s, kv in DEFAULTS.items()}
    if config_json:
        doc = json.loads(config_json)
        for section, kv in doc.items():
            merged.setdefault(section, {}).update(kv or {})
    args = list(cli_args or [])
    i = 0
    while i < len(args) - 1:
        tok = args[i]
        if tok.startswith("--") and "-" in tok[2:]:
            section, key = tok[2:].split("-", 1)
            val = args[i + 1]
            tgt = merged.setdefault(section, {})
            tgt[key] = _coerce(tgt.get(key), val)
            i += 2
        else:
            i += 1
    # the parquet sink has one store; a config written for another
    # table format must fail here, not sync into the manifest store
    fmt = merged["database"].pop("format", "manifest")
    if fmt != "manifest":
        raise ValueError(f"database.format {fmt!r} is not supported: "
                         "the parquet sink is the manifest store only")
    return EngineConfig(merged)
