"""SearchAuth — dataset-level ACL injected by the session.

Mirrors the reference's auth model (model.py:11-28 SearchAuth,
query/util.py:85-96 auth_datasets_query; semantics asserted in
tests/test_search_auth.py:31-60), re-based onto the code-table domain:
the dataset field is ``repo``.

* admin            → no filter at all (hot-wired match_all)
* empty dataset set → match_none (an unauthenticated user sees nothing)
* otherwise        → mandatory terms filter ``repo IN datasets``

The filter is one conjunct of every read's doc_meta restriction
(``query/filters.py``, where its rule lives), so an explicit
``filter:repo`` can never widen visibility. With
``Engine(require_auth=True)`` a search without an auth object raises
(reference OPENALEPH_SEARCH_AUTH=true behavior).
"""
from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class SearchAuth:
    datasets: set[str] = field(default_factory=set)
    logged_in: bool = False
    is_admin: bool = False
    role: str | None = None
