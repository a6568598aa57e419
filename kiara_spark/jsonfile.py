"""Crash-safe JSON files for the driver-side stores.

Every JSON store the engine keeps (job records, aliases, value sidecars,
manifests, comments, metadata items) is written through ``write_json``: the
content goes to a temp file in the same directory, which ``os.replace`` then
moves over the target in one step.  A crash mid-write leaves the previous
file whole, never a torn one.  ``read_json`` is the matching reader: a file
that does not parse (a torn write from before, or a truncated copy) is moved
aside to ``<path>.corrupt`` with a warning, so this and every later reader
starts without it instead of raising.
"""

from __future__ import annotations

import json
import logging
import os
import uuid
from typing import Any

logger = logging.getLogger(__name__)


def write_json(path: str, obj: Any, **dump_kw) -> None:
    """``json.dump(obj)`` to ``path`` via a temp file and ``os.replace``.
    The temp name is unique per call, so concurrent writers never share
    one."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, **dump_kw)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def read_json(path: str, what: str = "JSON file", default: Any = None) -> Any:
    """The parsed content of ``path``; ``default`` when it is missing,
    unreadable or torn.  A torn file is quarantined to ``<path>.corrupt``."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default
    except OSError:
        logger.warning("%s %s unreadable; starting without it", what, path,
                       exc_info=True)
        return default
    except ValueError:
        corrupt = path + ".corrupt"
        os.replace(path, corrupt)
        logger.warning("%s %s is corrupt; moved to %s", what, path, corrupt)
        return default
