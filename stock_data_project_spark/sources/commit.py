"""Crash-safe epoch commit for the streaming ``foreachBatch`` sinks.

The reference keeps its store current by appending each day's drop
and treating the max stored date as its watermark
(fetch_stocks.py:19-37, 54-61). The streaming sinks here (the star
upsert, incremental SCD2 and the exact and near-dup ingest gates)
keep theirs current one micro-batch at a time, and every one of them
commits the same way:

1. ``committed`` reads the pointer file ``out_dir/_last_epoch``
   (``epoch<TAB>dirname``) -> the last committed (epoch, data dir).
   A replayed epoch (``foreachBatch`` is at-least-once) with
   ``epoch_id <= epoch`` is a no-op, or its rows would count twice.
2. The sink writes the epoch's output into NEW epoch-named dirs
   (never in place; overwrite mode, so a replay of a half-written
   epoch rewrites the same dirs).
3. ``publish`` is the commit: pointer tmp file + one ``os.rename``,
   a single atomic step. A crash anywhere leaves the pointer naming
   a fully written dir: before the rename the old epoch stays
   committed and the replay redoes the epoch from it; after it, the
   replay guard makes the redelivery a no-op. Dirs the pointer does
   not cover are uncommitted garbage, invisible to every reader.
   Where a sink has a stable name, ``publish`` then points a symlink
   at the committed dir by create + rename (atomic replace), so a
   reader of ``out_dir/<name>`` never sees a missing or half-written
   table. A replayed epoch re-publishes the committed dir, which
   heals a symlink refresh lost to a crash after the pointer rename.
4. ``sweep`` deletes a snapshot sink's stale dirs but keeps the
   PREVIOUS committed dir one more commit cycle: a reader that
   resolved the symlink just before this commit can finish its scan.
   A reader never sees a missing or half-written table, and its
   resolved snapshot outlives it as long as it finishes within one
   commit interval; slower readers must retry.

Epoch-family sinks (the ingest gates) keep every committed epoch's
dirs as append-only history; their pointer names the epoch's
``docs_epoch_N`` dir and ``epoch_dirs`` lists a family up to the
committed epoch.

Stale or foreign state FAILS LOUDLY instead of reading as 'no
commit': an unparseable pointer, a pointer naming a missing dir, or
a real directory squatting on a stable symlink name would otherwise
make the next epoch merge from nothing and commit a pointer that
permanently truncates history to one batch. The pointer, checkpoint
and data dirs under ``out_dir`` are reset together or not at all.
"""

from __future__ import annotations

import os
import shutil

POINTER = "_last_epoch"

_RESET = "reset pointer+checkpoint+data dirs together or none"


def committed(out_dir: str, link: str | None = None) -> tuple[int, str | None]:
    """(epoch, data dir) of the last commit under ``out_dir``;
    (-1, None) before the first. ``link`` is the sink's stable
    symlink name, if it has one: a real directory at that name with
    no pointer is state from another layout and raises."""
    ptr = os.path.join(out_dir, POINTER)
    try:
        with open(ptr) as fh:
            raw = fh.read()
    except FileNotFoundError:
        stable = os.path.join(out_dir, link) if link else None
        if stable and os.path.exists(stable) and not os.path.islink(stable):
            raise RuntimeError(
                f"{stable} exists but is not a symlink: out_dir holds state "
                f"from another layout; {_RESET}"
            ) from None
        return -1, None
    try:
        epoch_s, dirname = raw.strip().split("\t")
        epoch = int(epoch_s)
    except ValueError as exc:
        raise RuntimeError(
            f"unparseable commit pointer {ptr} ({raw!r}): refusing to treat "
            f"unknown state as 'no commit'; {_RESET}"
        ) from exc
    data_dir = os.path.join(out_dir, dirname)
    if not os.path.isdir(data_dir):
        raise RuntimeError(
            f"commit pointer names missing data dir {data_dir}: out_dir is "
            f"corrupt; {_RESET}"
        )
    return epoch, data_dir


def publish(out_dir: str, epoch: int, data_dir: str, link: str | None = None) -> None:
    """Commit ``data_dir`` as ``epoch``: pointer tmp + one atomic
    rename, then (with ``link``) the stable-name symlink refresh."""
    tmp = os.path.join(out_dir, f".{POINTER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"{epoch}\t{os.path.basename(data_dir)}")
    os.rename(tmp, os.path.join(out_dir, POINTER))  # THE commit
    if link:
        tmp_link = os.path.join(out_dir, f".{link}.tmp")
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(os.path.basename(data_dir), tmp_link)
        os.rename(tmp_link, os.path.join(out_dir, link))


def sweep(out_dir: str, data_dir: str, previous: str | None) -> None:
    """Delete the snapshot dirs of ``data_dir``'s family (same name up
    to the trailing ``_<epoch>``) except ``data_dir`` and the
    ``previous`` committed dir, the readers' grace window."""
    prefix = os.path.basename(data_dir).rsplit("_", 1)[0] + "_"
    keep = {os.path.basename(data_dir)}
    if previous:
        keep.add(os.path.basename(previous))
    for name in os.listdir(out_dir):
        if name.startswith(prefix) and name not in keep:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)


def epoch_dirs(out_dir: str, prefix: str, upto: int) -> list[str]:
    """The ``<prefix><epoch>`` dirs of an epoch family with epoch <=
    ``upto`` (the committed epoch), in name order."""
    out = []
    for name in sorted(os.listdir(out_dir) if os.path.isdir(out_dir) else []):
        if name.startswith(prefix):
            try:
                epoch = int(name[len(prefix):])
            except ValueError:
                continue
            if epoch <= upto:
                out.append(os.path.join(out_dir, name))
    return out
