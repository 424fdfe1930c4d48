"""Shared two-generation atomic-swap state layout for streaming sinks
without a transactional catalog (an Iceberg/Delta MERGE would replace
this): parquet data under ``<dir>/gen={0|1}`` plus a marker file whose
whitespace-separated integer fields are swapped atomically via
``os.replace``. Used by StreamingHllState (payload: generation, plus a
manifest of the state's parameters) and StreamingSignatureStore /
StreamingUpsertStore (payload: generation + last batch id).

The marker (and the manifest) are made durable before they become
visible: the temp file is fsynced, renamed over the old one, then the
directory is fsynced so the rename itself survives a crash."""

from __future__ import annotations

import json
import os
import warnings

MARKER = "_GEN"
MANIFEST = "_MANIFEST.json"


class GenerationState:
    """Marker + path arithmetic for the two-generation layout."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir.rstrip("/")
        if "://" in self.state_dir:
            # the marker is read/written with driver-local file IO: on
            # hdfs:///s3a:// it would silently look absent and RESET
            # committed state, and even file:// URIs break os.path while
            # Spark writes to the stripped path — plain local paths only
            raise NotImplementedError(
                f"streaming state dir must be a plain driver-local path "
                f"(got {state_dir!r}); remote state needs a transactional "
                f"table format for the generation marker"
            )

    def gen_path(self, gen: int) -> str:
        return f"{self.state_dir}/gen={gen % 2}"

    def read(self) -> list[int]:
        """Marker fields, or [] before the first commit."""
        marker = f"{self.state_dir}/{MARKER}"
        if not os.path.exists(marker):
            return []
        with open(marker) as f:
            return [int(v) for v in f.read().split()]

    def read_manifest(self) -> dict | None:
        """The manifest committed beside the marker, or None (no commit
        yet, or a state dir written before manifests existed)."""
        path = f"{self.state_dir}/{MANIFEST}"
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def commit(self, *fields: int, manifest: dict | None = None) -> None:
        """Durably publish the marker (and ``manifest``, written first so
        a visible marker never lacks the manifest it was committed
        with)."""
        os.makedirs(self.state_dir, exist_ok=True)
        if manifest is not None:
            self._replace_durably(MANIFEST, json.dumps(manifest, sort_keys=True))
        self._replace_durably(MARKER, " ".join(str(v) for v in fields))
        fd = os.open(self.state_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def _replace_durably(self, name: str, text: str) -> None:
        tmp = f"{self.state_dir}/{name}.tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, f"{self.state_dir}/{name}")

    def marker_pair(self) -> tuple[int, int]:
        """(generation, last committed batch id) — the two-field marker
        layout shared by the batch-id-guarded stores — or (-1, -1)
        before the first commit."""
        vals = self.read()
        return (vals[0], vals[1]) if vals else (-1, -1)

    def replay_skip(self, batch_id, last_bid: int, store: str) -> bool:
        """True if ``batch_id`` was already committed (foreachBatch
        replay) — with a warning, because a long run of skips means the
        streaming checkpoint dir was reset independently of this state
        dir (see the stores' module docstrings)."""
        if batch_id is None or batch_id > last_bid:
            return False
        warnings.warn(
            f"{store}: skipping replayed batch_id={batch_id} <= committed "
            f"{last_bid} (replay after crash is normal ONCE; repeated "
            f"skips mean the checkpoint dir was reset without the state "
            f"dir)",
            stacklevel=3,
        )
        return True
