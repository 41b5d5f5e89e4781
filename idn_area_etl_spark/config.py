"""TOML-driven output configuration.

Mirrors the reference's config surface (config.py:13-144 +
idnareaetl.toml): per-entity output headers, filename suffix, and
flush batch size, loaded through a swappable ``FileLoader`` protocol
(kept for test injection, mirroring tests/test_config.py:9-22).

In the Spark engine ``batch_size`` has no role (the CSV sink streams
rows through one buffered writer); it is still parsed and validated so
the reference's TOML files load unchanged.
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, field
from pathlib import Path
from typing import Literal, Protocol

Area = Literal["province", "regency", "district", "village", "island"]

AREAS: tuple[Area, ...] = ("province", "regency", "district", "village", "island")

#: default per-entity output schema (headers match the reference's
#: idnareaetl.toml:1-31 / golden CSVs)
DEFAULT_HEADERS: dict[Area, list[str]] = {
    "province": ["code", "name"],
    "regency": ["code", "province_code", "name"],
    "district": ["code", "regency_code", "name"],
    "village": ["code", "district_code", "name"],
    "island": [
        "code",
        "regency_code",
        "coordinate",
        "is_populated",
        "is_outermost_small",
        "name",
    ],
}

DEFAULT_BATCH_SIZES: dict[Area, int] = {
    "province": 500,
    "regency": 500,
    "district": 1000,
    "village": 2000,
    "island": 1000,
}


class ConfigError(Exception):
    pass


@dataclass
class DataConfig:
    filename_suffix: str
    output_headers: list[str]
    batch_size: int

    def __post_init__(self) -> None:
        if self.batch_size <= 0:
            raise ConfigError("batch_size must be positive")
        if not self.filename_suffix:
            raise ConfigError("filename_suffix must be non-empty")
        if not self.output_headers:
            raise ConfigError("output_headers must be non-empty")


@dataclass
class Config:
    data: dict[Area, DataConfig] = field(default_factory=dict)


class FileLoader(Protocol):
    def load(self, path: Path) -> dict: ...


class TomlLoader:
    def load(self, path: Path) -> dict:
        try:
            with open(path, "rb") as f:
                return tomllib.load(f)
        except (OSError, tomllib.TOMLDecodeError) as exc:
            raise ConfigError(f"cannot load config {path}: {exc}") from exc


def default_config() -> Config:
    return Config(
        data={
            area: DataConfig(
                filename_suffix=area,
                output_headers=list(DEFAULT_HEADERS[area]),
                batch_size=DEFAULT_BATCH_SIZES[area],
            )
            for area in AREAS
        }
    )


def load_config(path: Path | None, loader: FileLoader | None = None) -> Config:
    """Parse the TOML into per-entity DataConfigs; entities absent from
    the file keep their defaults (tolerates headers given as a
    comma-joined string, mirroring config.py:119-128)."""
    cfg = default_config()
    if path is None:
        return cfg
    raw = (loader or TomlLoader()).load(Path(path))
    for area, section in raw.get("data", {}).items():
        if area not in AREAS:
            raise ConfigError(f"unknown entity {area!r} in config")
        headers = section.get("output_headers", DEFAULT_HEADERS[area])
        if isinstance(headers, str):
            headers = [h.strip() for h in headers.split(",") if h.strip()]
        try:
            batch_size = int(section.get("batch_size", DEFAULT_BATCH_SIZES[area]))
        except (TypeError, ValueError) as exc:
            raise ConfigError(f"invalid batch_size for {area}") from exc
        cfg.data[area] = DataConfig(
            filename_suffix=section.get("filename_suffix", area),
            output_headers=list(headers),
            batch_size=batch_size,
        )
    return cfg
