"""Deterministic stub transport replaying GitHub-API-shaped JSON
(the reference's cache-file format, /root/reference/src/
extract_github_data.py:293-344). Picklable: used inside mapInPandas.

Lives in the package (not tests/) because the CLI's ``--test-mode``
(reference :769-792) runs the full pipeline against it offline."""

from __future__ import annotations

from datetime import date, timedelta

UPDATED_EPOCH = date(2010, 1, 1)


class StubTransport:
    """Synthesizes a repo universe of ``n_repos`` records.

    Quirks built in (deterministic by id):
    - id % 13 == 0 -> null description (validation reject)
    - id % 17 == 0 -> null language   (allowed nullable? no: reject,
      matching the reference's strict all-fields rule)
    - id % 19 == 0 -> detail lookup 404s (row skipped)
    - ``updated_at`` falls on day ``id * 7919 % 5000`` after
      ``UPDATED_EPOCH``, so consecutive ids land on distinct days, as a
      real ``/repositories`` page spans years of activity;
      ``created_at`` falls ``id % 365`` days before it
    """

    def __init__(self, n_repos: int = 300):
        self.n_repos = n_repos
        self.calls: list[str] = []

    def _list_row(self, rid: int) -> dict:
        return {
            "id": rid,
            "name": f"repo-{rid}",
            "full_name": f"owner{rid % 7}/repo-{rid}",
            "owner": {"login": f"owner{rid % 7}"},
        }

    def _detail_row(self, rid: int) -> dict:
        updated = UPDATED_EPOCH + timedelta(days=rid * 7919 % 5000)
        created = updated - timedelta(days=rid % 365)
        return {
            "id": rid,
            "name": f"repo-{rid}",
            "full_name": f"owner{rid % 7}/repo-{rid}",
            "html_url": f"https://example.invalid/owner{rid % 7}/repo-{rid}",
            "description": None if rid % 13 == 0 else f"description {rid}",
            "stargazers_count": (rid * 37) % 5000,
            "language": None if rid % 17 == 0 else ["Python", "Rust", "Go"][rid % 3],
            "created_at": f"{created}T00:00:00Z",
            "updated_at": f"{updated}T12:30:00Z",
            "owner": {
                "login": f"owner{rid % 7}",
                "id": 1000 + rid % 7,
                "type": "Organization" if rid % 2 == 0 else "User",
                "avatar_url": f"https://example.invalid/a/{rid % 7}",
                "html_url": f"https://example.invalid/owner{rid % 7}",
            },
        }

    def __call__(self, path: str, params: dict) -> tuple[int, object]:
        self.calls.append(path)
        if path == "/repositories":
            since = int(params.get("since", 0))
            per_page = int(params.get("per_page", 100))
            ids = range(since + 1, min(since + per_page, self.n_repos) + 1)
            return 200, [self._list_row(i) for i in ids]
        if path.startswith("/repos/"):
            name = path.rsplit("/", 1)[-1]
            rid = int(name.removeprefix("repo-"))
            if rid % 19 == 0:
                return 404, None
            return 200, self._detail_row(rid)
        return 404, None
