"""Engine configuration file (reference parity: Util/Config.py:17-41).

Same observable behavior as the reference's JSON config surface:
- a missing/invalid file yields an empty config (optionally touching
  the file into existence) rather than raising;
- a nonexistent explicit path silently falls back to the default
  ``config.json``;
- writes are pretty-printed JSON.

On top of that, :func:`effective_config` overlays the user file onto
the engine defaults — the knobs the Spark engine actually consumes
(scheduler batch sizes, hash-wave size, display cap), so callers read
one merged dict instead of sprinkling literals.
"""

from __future__ import annotations

import json
import os
from typing import Any

from .store import publish_bytes

__all__ = ["DEFAULT_CONFIG_FILE", "DEFAULTS", "load_config", "write_config", "effective_config"]

DEFAULT_CONFIG_FILE = "config.json"

#: engine defaults (values mirror the reference's operating parameters
#: where it has them; Spark-only knobs documented inline)
DEFAULTS: dict[str, Any] = {
    # directories claimed per crawl wave (T1 batch)
    "crawl_batch_size": 10,
    # files claimed per hash wave (T2 batch, smallest-first)
    "hash_batch_size": 5000,
    # rows shown by the interactive shell (T5 display cap)
    "display_row_cap": 50,
    # copy queue FIFO batch (T3 / M12)
    "copy_batch_size": 100,
    # scheduler identity used when claiming work
    "process_id": 1,
    # archive append-chains longer than this are folded back into one
    # snapshot on the engine's idle path (store.compact — the OPTIMIZE
    # half of the O(delta) append story)
    "archive_compact_segments": 8,
    # crawl claims are COMMITTED (cross-process disjointness); a claim
    # older than this lease counts as free again, so a crashed worker
    # stops blocking its directories without waiting for the manual
    # M11 reset (Engine.reset_claims). Spark-only knob — the reference
    # claims in-database with no expiry.
    "claim_timeout_s": 86_400,
}


def _resolve(file_name: str | None) -> str:
    """Nonexistent or unspecified path -> the default config file
    (Util/Config.py parse_config_path semantics)."""
    if file_name is None or not os.path.isfile(file_name):
        return DEFAULT_CONFIG_FILE
    return file_name


def load_config(file_name: str | None = None, create_file: bool = False) -> dict:
    """Read the JSON config; missing or malformed content is an empty
    dict, never an exception. ``create_file`` touches the file into
    existence when absent."""
    path = _resolve(file_name)
    try:
        with open(path) as fh:
            data = json.load(fh)
    except FileNotFoundError:
        if create_file:
            open(path, "a").close()
        data = {}
    except json.JSONDecodeError:
        data = {}
    return data if isinstance(data, dict) else {}


def write_config(values: dict, file_name: str | None = None) -> None:
    """Persist the config as indented JSON, atomically: a crash or an
    unserializable value leaves the previous file intact (a truncated
    file would load as ``{}``). Unlike loading, an explicit target path
    is honored even if the file doesn't exist yet."""
    path = file_name if file_name is not None else DEFAULT_CONFIG_FILE
    publish_bytes(path, json.dumps(values, indent=4))


def effective_config(file_name: str | None = None) -> dict:
    """DEFAULTS overlaid with the user's file — the dict the engine
    consumes."""
    merged = dict(DEFAULTS)
    merged.update(load_config(file_name))
    return merged
