"""One scratch root per process for sinks, checkpoints and arrival files.

Every run directory the engine writes — streaming checkpoints, sinks and
arrival files, the round-trip sinks of the source/sink queries — lives
under ``<tempfile.gettempdir()>/mpbda_<pid>``. The root is removed when the
interpreter exits, and when a process first creates its root it deletes
every sibling ``mpbda_<pid>`` whose process is gone (a killed run cannot
clean up after itself).

Cleanup is per process, not per call: the frames the queries return read
their sinks lazily, so a run directory has to outlive the call that made
it, and PySpark has no Python-side hook for a session stop.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import uuid

_ROOT_NAME = re.compile(r"mpbda_(\d+)")

#: Roots this process created (one per distinct ``gettempdir()``).
_ROOTS: set[str] = set()


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True
    return True


def sweep_dead_roots(parent: str) -> None:
    """Delete every ``mpbda_<pid>`` under ``parent`` whose process is dead."""
    for entry in os.listdir(parent):
        m = _ROOT_NAME.fullmatch(entry)
        if m and int(m.group(1)) != os.getpid() and not _alive(int(m.group(1))):
            shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def scratch_root() -> str:
    """This process's root under the current ``tempfile.gettempdir()``."""
    parent = tempfile.gettempdir()
    root = os.path.join(parent, f"mpbda_{os.getpid()}")
    if root not in _ROOTS:
        sweep_dead_roots(parent)
        os.makedirs(root, exist_ok=True)
        _ROOTS.add(root)
    return root


def scratch_dir(tag: str) -> str:
    """A fresh path ``<root>/<tag>_<hex>``, not yet created (Spark writers
    refuse an existing target in their default mode). Its basename doubles
    as the streaming query name."""
    return os.path.join(scratch_root(), f"{tag}_{uuid.uuid4().hex[:12]}")


@atexit.register
def remove_roots() -> None:
    """Delete this process's roots (registered with ``atexit``). A forked
    child inherits ``_ROOTS`` but never removes its parent's root."""
    own = f"mpbda_{os.getpid()}"
    for root in [r for r in _ROOTS if os.path.basename(r) == own]:
        shutil.rmtree(root, ignore_errors=True)
        _ROOTS.discard(root)
