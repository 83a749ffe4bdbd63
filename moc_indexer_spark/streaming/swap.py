"""Crash-recoverable whole-directory swap for parquet state tables.

Shared by the upsert sink's compaction (sink.py: every fold, including
the fold-after-every-write of compact_every=1 tables, installs its base
`__seq=N/` dir plus a root `_SUCCESS` this way) and the incremental
rollups (rollup.py). The swap itself is two renames —
POSIX gives no atomic directory exchange — so the protocol makes every
crash window recoverable instead:

    write new state -> <path>__swap_tmp   (Spark's _SUCCESS marks complete)
    rename <path>      -> <path>__swap_old
    rename __swap_tmp  -> <path>
    rmtree __swap_old

`recover_swap(path)` distinguishes the windows on the next start:

* path missing, tmp COMPLETE      -> finish the swap (install tmp). The
  new state was fully written; preferring it keeps any commit marker
  written inside tmp consistent with the installed state.
* path missing, tmp incomplete    -> roll __swap_old back. The crash hit
  between the two renames with an unusable tmp; the old state is intact.
* path present                    -> sweep leftovers. Either the swap
  completed (stale __swap_old) or it never started installing
  (incomplete/unused tmp) — the live dir is authoritative.

Without recovery, a crash between the renames left the table MISSING
under a random __old_<hex> name: the next writer silently started a
fresh empty table (exists() false -> tombstone flag reset, read() None).

Deterministic names are safe under the sink's single-writer contract;
readers holding the old directory open are unaffected by rename (POSIX
keeps open handles valid).
"""

from __future__ import annotations

import os
import shutil


def _tmp(path: str) -> str:
    return f"{path}__swap_tmp"


def _old(path: str) -> str:
    return f"{path}__swap_old"


def recover_swap(path: str, required: tuple[str, ...] = ()) -> None:
    """Finish or roll back a crashed swap; sweep leftovers. Idempotent —
    call at writer init and before every swap.

    `required` names extra marker files that must exist inside tmp for it
    to count as complete. Spark stamps `_SUCCESS` when the DATA write
    commits, which can predate commit markers the writer appends after it
    (e.g. the rollup's `_batch_id`): a crash in that gap would otherwise
    install state whose applied-batch marker is missing, and the
    redelivered batch would be folded twice."""
    tmp, old = _tmp(path), _old(path)
    complete = all(
        os.path.exists(os.path.join(tmp, m))
        for m in ("_SUCCESS", *required)
    )
    if not os.path.exists(path):
        if complete:
            os.rename(tmp, path)
        elif os.path.isdir(old):
            os.rename(old, path)
    for d in (tmp, old):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)


def swap_dir(path: str, write_fn, required: tuple[str, ...] = ()) -> None:
    """Install new state at `path` via the recoverable protocol.
    `write_fn(tmp_path)` must leave a complete state dir (containing
    _SUCCESS plus every `required` marker) at tmp_path — typically a
    Spark parquet write plus any commit-marker files that must travel
    WITH the state. Pass the markers write_fn appends AFTER the data
    write as `required` so a crash between Spark's _SUCCESS and the
    marker write is judged incomplete and rolled back."""
    recover_swap(path, required)
    tmp, old = _tmp(path), _old(path)
    write_fn(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
