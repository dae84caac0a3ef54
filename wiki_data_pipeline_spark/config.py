"""YAML-driven pipeline configuration (reference API surface:
src/config_manager.py:1-83 + config/config.yaml — the reference drives
every run from a YAML file with env-var overrides, dot-path ``get``,
and required-section validation).

Spark-first recast: the sections map to THIS engine's concerns —
``storage`` (input fixture dir + output sink dir) replaces the
reference's cloud-blob section, ``spark`` carries session tuning that
flows into ``get_spark(extra_conf=...)``, ``enrichment`` carries the
QPS/retry contract consumed by ``operators.enrichment.fetch_enrich``,
and ``processing``/``naming`` keep the reference's knobs (batch size,
limit, file/dir patterns) with the same defaults. Secrets never live
in the YAML: any ``${ENV_VAR}`` value is resolved from the environment
at load time (the reference's .env override, generalized).

Typed dataclasses rather than a raw dict: a config typo fails at load
with a clear message, not mid-job on a 1000-executor cluster.
"""

from __future__ import annotations

import os
import re
import types
from dataclasses import dataclass, field, fields
from typing import Any, Union, get_args, get_origin, get_type_hints

try:  # PyYAML is present in this environment; degrade clearly if not
    import yaml

    _HAVE_YAML = True
except ImportError:  # pragma: no cover
    _HAVE_YAML = False

_ENV_REF = re.compile(r"^\$\{([A-Za-z_][A-Za-z0-9_]*)\}$")


@dataclass
class StorageConfig:
    sf_dir: str = "/root/testdata/sf0.001"
    out_dir: str | None = None


@dataclass
class NamingConfig:
    # reference naming section (config.yaml: article_{index:06d}.json /
    # batch_{batch_num:03d}) — consumed by sinks/per_record_json.py
    file_pattern: str = "article_{index:06d}.json"
    directory_pattern: str = "batch_{batch_num:03d}"


@dataclass
class ProcessingConfig:
    batch_size: int = 1000
    limit: int | None = None
    reset: bool = False


@dataclass
class EnrichmentConfig:
    # reference api section: max_retries / initial_delay / max_delay
    # (src/mediawiki_client.py:22-64) + the 2.0 QPS contract;
    # ``fetcher`` is a "module.path:attr" import string selecting the
    # fetch implementation (the reference's per-entry-point client
    # choice, src/main.py:25 vs src/production_main.py:25, as a
    # config knob), ``source_name`` labels its output rows
    global_qps: float | None = 2.0
    max_retries: int = 3
    initial_delay: float = 0.05
    max_delay: float = 1.0
    fetcher: str | None = None
    source_name: str = "fake_api"


@dataclass
class StreamingConfig:
    # streaming-twin knobs (run_pipeline_streaming): source dir to
    # drain as file micro-batches, files per trigger (ST1 batching),
    # optional per-batch metrics JSONL (the log_progress surface)
    source_dir: str | None = None
    max_files_per_trigger: int = 4
    metrics_path: str | None = None


@dataclass
class SparkConfig:
    master: str | None = None
    shuffle_partitions: int | None = None
    app_name: str = "wiki_data_pipeline_spark"
    extra_conf: dict[str, str] = field(default_factory=dict)


@dataclass
class PipelineConfig:
    storage: StorageConfig = field(default_factory=StorageConfig)
    naming: NamingConfig = field(default_factory=NamingConfig)
    processing: ProcessingConfig = field(default_factory=ProcessingConfig)
    enrichment: EnrichmentConfig = field(default_factory=EnrichmentConfig)
    streaming: StreamingConfig = field(default_factory=StreamingConfig)
    spark: SparkConfig = field(default_factory=SparkConfig)

    def get(self, key: str, default: Any = None) -> Any:
        """Dot-path access (reference ConfigManager.get semantics):
        ``cfg.get('processing.batch_size')`` → 1000."""
        obj: Any = self
        for part in key.split("."):
            if isinstance(obj, dict):
                if part not in obj:
                    return default
                obj = obj[part]
            elif hasattr(obj, part):
                obj = getattr(obj, part)
            else:
                return default
        return obj


# section name -> its dataclass, resolved from PipelineConfig's
# annotations (strings under ``from __future__ import annotations``)
_SECTIONS = get_type_hints(PipelineConfig)


def _resolve_env(value: Any) -> Any:
    """``${VAR}`` string values resolve from the environment (the
    reference's .env override for secrets, generalized — missing vars
    are a load-time error, not a None that detonates later). Recurses
    into dicts/lists so nested values like ``spark.extra_conf``
    entries — exactly where credentials live — resolve too."""
    if isinstance(value, str):
        m = _ENV_REF.match(value)
        if m:
            name = m.group(1)
            if name not in os.environ:
                raise ValueError(
                    f"config references ${{{name}}} but it is not set in the "
                    "environment"
                )
            return os.environ[name]
    elif isinstance(value, dict):
        return {k: _resolve_env(v) for k, v in value.items()}
    elif isinstance(value, list):
        return [_resolve_env(v) for v in value]
    return value


def _coerce(value: Any, hint: Any, where: str) -> Any:
    """Coerce a YAML/env value to the dataclass field's declared type,
    or raise at LOAD time — a numeric knob arriving as the string
    "500" (quoted YAML, or any ${VAR} resolution, which always yields
    str) must not detonate as a TypeError mid-run after the sink has
    already written files."""
    origin = get_origin(hint)
    if origin is Union or origin is types.UnionType:  # e.g. int | None
        args = [a for a in get_args(hint) if a is not type(None)]
        if value is None:
            return None
        return _coerce(value, args[0], where)
    if origin is dict:
        if not isinstance(value, dict):
            raise ValueError(f"{where}: expected a mapping, got {value!r}")
        kt, vt = get_args(hint)
        return {
            _coerce(k, kt, where): _coerce(v, vt, where)
            for k, v in value.items()
        }
    try:
        if hint is bool:
            if isinstance(value, bool):
                return value
            if isinstance(value, str) and value.lower() in (
                "true", "false", "1", "0", "yes", "no",
            ):
                return value.lower() in ("true", "1", "yes")
            raise ValueError
        if hint is int:
            if isinstance(value, bool):
                raise ValueError
            coerced = int(str(value)) if not isinstance(value, int) else value
            return coerced
        if hint is float:
            return float(value) if not isinstance(value, float) else value
        if hint is str:
            if not isinstance(value, (str, int, float)):
                raise ValueError
            return str(value)
    except (TypeError, ValueError):
        raise ValueError(
            f"{where}: cannot interpret {value!r} as {hint.__name__}"
        ) from None
    return value


def _build_section(cls: type, raw: dict[str, Any], section: str) -> Any:
    known = {f.name for f in fields(cls)}
    unknown = set(raw) - known
    if unknown:
        raise ValueError(
            f"unknown key(s) {sorted(unknown)} in config section "
            f"'{section}' (known: {sorted(known)})"
        )
    hints = get_type_hints(cls)
    return cls(
        **{
            k: _coerce(_resolve_env(v), hints[k], f"{section}.{k}")
            for k, v in raw.items()
        }
    )


def load_config(path: str | None = None) -> PipelineConfig:
    """Load a PipelineConfig from YAML; ``None`` → all defaults.

    Validation is strict: unknown sections/keys raise (a misspelled
    knob must fail the submit, not silently run with a default on a
    large cluster). Env-var references (``${VAR}``) resolve at load."""
    if path is None:
        return PipelineConfig()
    if not _HAVE_YAML:
        raise RuntimeError(
            "PyYAML is required to load config files; install pyyaml or "
            "run with CLI flags only"
        )
    if not os.path.exists(path):
        raise FileNotFoundError(f"config file not found: {path}")
    with open(path, encoding="utf-8") as f:
        raw = yaml.safe_load(f) or {}
    if not isinstance(raw, dict):
        raise ValueError(f"config root must be a mapping, got {type(raw).__name__}")

    unknown = set(raw) - set(_SECTIONS)
    if unknown:
        raise ValueError(
            f"unknown config section(s) {sorted(unknown)} "
            f"(known: {sorted(_SECTIONS)})"
        )

    kwargs = {
        name: _build_section(cls, raw.get(name) or {}, name)
        for name, cls in _SECTIONS.items()
    }
    return PipelineConfig(**kwargs)
