"""One commit protocol for every versioned snapshot the package writes.

A snapshot chain is a directory ``root`` holding versions ``<prefix><N>``:
warehouse tables (``_v<N>``), index state (``snapshot_v<N>``), streaming
state (``state_v<N>``, ``state_e<N>``) and corpus deltas (``delta_v<N>``).
A version is *committed* when its directory holds a ``_SUCCESS`` marker;
readers list committed versions only. The marker :func:`commit` writes holds
a token unique to the attempt, so a reader can tell a version re-created at
the same path from the one it read before.

A writer never writes into a version's directory. :func:`commit` stages the
whole version in a directory unique to the attempt (``_tmp_<prefix><N>.<id>``,
which never matches ``<prefix>\\d+``), puts the marker in, and publishes it
with one rename that refuses an existing committed target. A crash at any
step therefore leaves the previous committed version current, and a second
writer of the same version gets an error instead of interleaving with the
first. Staging sits inside ``root``, so the rename keeps every file's inode.
"""

from __future__ import annotations

import re
import uuid
from collections.abc import Callable

from py4j.protocol import Py4JJavaError

from etl_file_loader_spark.fs import FS

MARKER = "_SUCCESS"


def committed(fs: FS, root: str, prefix: str) -> list[int]:
    """Committed versions under ``root``, oldest first."""
    root = root.rstrip("/")
    pattern = re.compile(rf"{re.escape(prefix)}(\d+)")
    return sorted(
        int(m.group(1))
        for name in fs.list_names(root)
        if (m := pattern.fullmatch(name)) and fs.exists(f"{root}/{name}/{MARKER}")
    )


def commit(
    fs: FS, root: str, prefix: str, n: int, write: Callable[[str], None]
) -> str:
    """Commit version ``n``: ``write(staging)`` fills a fresh staging
    directory, which becomes ``<root>/<prefix><n>`` with one rename.

    Raises ``FileExistsError`` when version ``n`` is already committed.
    Leftovers of crashed writers go: a marker-less ``<prefix><n>`` before
    the rename, staging of versions at or below the latest committed one
    after it. Returns the committed path.
    """
    root = root.rstrip("/")
    final = f"{root}/{prefix}{n}"
    token = uuid.uuid4().hex
    staging = f"{root}/_tmp_{prefix}{n}.{token[:12]}"
    write(staging)
    fs.mkdirs(staging)
    fs.write_text(f"{staging}/{MARKER}", token)
    fs.delete(f"{staging}/.{MARKER}.crc")  # the checksum of the writer's own marker
    if fs.exists(final) and not fs.exists(f"{final}/{MARKER}"):
        fs.rmtree(final)  # husk of a writer that wrote in place
    try:
        fs.rename(staging, final)
    except (OSError, Py4JJavaError) as exc:
        if fs.exists(f"{final}/{MARKER}"):
            fs.rmtree(staging)
            raise FileExistsError(f"{final} is already committed") from exc
        raise
    latest = committed(fs, root, prefix)[-1]
    leftover = re.compile(rf"_tmp_{re.escape(prefix)}(\d+)\.[0-9a-f]+")
    for name in fs.list_names(root):
        if (m := leftover.fullmatch(name)) and int(m.group(1)) <= latest:
            fs.rmtree(f"{root}/{name}")
    return final
