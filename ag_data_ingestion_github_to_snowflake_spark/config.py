"""Engine configuration mirroring the reference's env-var surface
(/root/reference/src/extract_github_data.py:78-108 and
.env.example): one dataclass, parsed once, passed explicitly.

| env var                  | reference meaning            | here |
|--------------------------|------------------------------|------|
| GITHUB_TOKEN             | auth -> 5000 req/h tier      | token |
| MAX_REQUESTS_PER_RUN     | API budget per run           | max_requests_per_run |
| REPOS_PER_PAGE           | list page size               | per_page |
| S3_BUCKET                | sink location                | sink_path |
| STATE_PATH               | watermark persistence        | state_path |
| TEST_MODE / SKIP_UPLOAD  | dry-run switches             | test_mode / skip_upload |
"""

from __future__ import annotations

import os
from dataclasses import dataclass


def _bool(v: str | None, default: bool) -> bool:
    if v is None:
        return default
    return v.strip().lower() in ("1", "true", "yes", "on")


@dataclass(frozen=True)
class EngineConfig:
    token: str | None = None
    max_requests_per_run: int = 60
    per_page: int = 100
    sink_path: str = "/tmp/ag_spark_sink"
    state_path: str = "/tmp/ag_spark_state/last_repo_id.txt"
    test_mode: bool = False
    skip_upload: bool = False

    @classmethod
    def from_env(cls, env: dict | None = None) -> EngineConfig:
        e = env if env is not None else os.environ
        return cls(
            token=e.get("GITHUB_TOKEN"),
            max_requests_per_run=int(
                e.get("MAX_REQUESTS_PER_RUN", "5000" if e.get("GITHUB_TOKEN") else "60")
            ),
            per_page=int(e.get("REPOS_PER_PAGE", "100")),
            sink_path=e.get("S3_BUCKET", "/tmp/ag_spark_sink"),
            state_path=e.get("STATE_PATH", "/tmp/ag_spark_state/last_repo_id.txt"),
            test_mode=_bool(e.get("TEST_MODE"), False),
            skip_upload=_bool(e.get("SKIP_UPLOAD"), False),
        )
