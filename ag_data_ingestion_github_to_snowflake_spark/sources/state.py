"""Watermark/offset state (A4/A8, /root/reference/src/
extract_github_data.py:164-286).

The reference persists a single integer high-watermark to
file/env/S3/DynamoDB after every row. Spark-first equivalents:

- batch-incremental jobs: a one-integer state file (this module) read
  before the run and atomically replaced once per batch, not per row.
  Only ``sinks.roll_forward`` sets it, from the batch's commit record
  (``sinks.publish_batch``), so the watermark moves exactly when the
  batch's files land in the sink.
- streaming: Structured Streaming's checkpointLocation subsumes this
  entirely (streaming/ module).

The backend is a local file (the reference's ``last_repo_id.txt``); an
S3 object behaves identically through a mounted path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass
class FileWatermark:
    """File-backed watermark (the reference's last_repo_id.txt,
    :238-267). Atomic via write-temp-then-rename.

    Only a missing file reads as ``default``: a corrupt or empty one
    raises, because restarting from ``default`` would re-list and
    re-append every repository already sunk."""

    path: str
    default: int = 0

    def get(self) -> int:
        try:
            with open(self.path) as f:
                text = f.read()
        except FileNotFoundError:
            return self.default
        try:
            return int(text.strip())
        except ValueError:
            raise ValueError(
                f"corrupt watermark state file {self.path!r}: {text!r}"
            ) from None

    def set(self, value: int) -> None:
        tmp = f"{self.path}.tmp"
        with open(tmp, "w") as f:
            f.write(str(int(value)))
        os.replace(tmp, self.path)
