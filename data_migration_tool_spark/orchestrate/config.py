"""Config-document validation & normalization (SURVEY §1.1 "Config
document"; reference ``input_validation_utils.py:76-135``).

The config dict is the engine's user-facing "query plan": it names the
operation (``type``), the dialect (``source``), the input/output paths,
and optional validation parameters. Normalization lowercases the source
and strips trailing slashes; validation checks that referenced paths
exist on the local/Hadoop-compatible FS (the reference checks GCS
buckets) and that secret references resolve (env vars stand in for
Secret Manager).
"""

from __future__ import annotations

import os
from typing import Any

SECRET_PREFIX = "secret:"

SUPPORTED_TYPES = ("ddl", "sql", "dml", "data")


class ConfigError(ValueError):
    """Invalid or unsatisfiable config document (reference raises
    AirflowFailException; the engine raises this)."""


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise ConfigError(msg)


def _resolve_secret(ref: str) -> str | None:
    """``secret:NAME`` → env var NAME (local Secret Manager stand-in)."""
    return os.environ.get(ref.removeprefix(SECRET_PREFIX))


def normalize_and_validate_config(config: dict[str, Any]) -> dict[str, Any]:
    """Normalize in place and return the config; raise ConfigError on the
    same conditions the reference fails the DAG run for."""
    _require("type" in config, "config missing required key 'type'")
    op_type = str(config["type"]).lower()
    config["type"] = op_type
    _require(
        op_type in SUPPORTED_TYPES,
        f"unsupported operation type: {op_type} (expected one of {SUPPORTED_TYPES})",
    )

    if "source" in config:
        config["source"] = str(config["source"]).lower()

    task = config.get("migrationTask")
    if task is not None:
        details = task.get("translationConfigDetails", {})
        for key in ("sourcePath", "targetPath", "gcsSourcePath", "gcsTargetPath"):
            if key in details:
                details[key] = str(details[key]).rstrip("/")
        src = details.get("sourcePath") or details.get("gcsSourcePath")
        tgt = details.get("targetPath") or details.get("gcsTargetPath")
        if src is not None:
            _require(
                os.path.isdir(src) and bool(os.listdir(src)),
                f"No translation input files found at sourcePath={src}.",
            )
        if tgt is not None:
            _require(
                os.path.isdir(tgt),
                f"Translation output directory does not exist at targetPath={tgt}.",
            )

    vconf = config.get("validation_config")
    if vconf is not None:
        params = vconf.get("validation_params_file_path")
        _require(
            params is not None and os.path.isfile(params),
            f"Validation config parameters file not found at "
            f"validation_params_file_path={params}.",
        )
        for side in ("source_config", "target_config"):
            pw = vconf.get(side, {}).get("password")
            if pw and pw.startswith(SECRET_PREFIX):
                _require(
                    _resolve_secret(pw) is not None,
                    f"Secret not resolvable for {side}: {pw}",
                )
    return config
