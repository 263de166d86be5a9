"""Round-6 continuation families (r6b) — aggregator.

The 52 r6b keys were built as one file in round 6 and mechanically
split by family in round 7 (verdict r6 item 5): registry_r6b_stat /
_ml / _text / _events each hold one family's operators with their SQL
oracles inline. This module merges them into R6B_QUERIES; the
assertion below pins that no key shadows another.

Original module docstring (applies to every family file):

Exactness discipline (house rules, registry_util): every statistic is
either pure int64 arithmetic, or an IEEE-754 expression whose inputs
are exactly-representable int64 casts — both engines evaluate the
identical float expression tree — and every exported float/ln term is
quantized ``floor(x*10^k + 0.5)/10^k`` per term BEFORE any cross-row
sum (the fold-order rule).

Reference parity note: the reference repo (pandas/requests ETL —
``services/fitbit/fitbit_utils.py``, ``services/strava/utils.py``) has
no DQ/evaluation layer; these extend SURVEY.md §2's LLM-pipeline axis
(pipeline self-auditing, model-based curation QA, spatial/blocking
joins) the same way the round-4/5/6 families do.
"""

from __future__ import annotations

from .registry_r6b_events import R6B_QUERIES as _EVENTS
from .registry_r6b_ml import R6B_QUERIES as _ML
from .registry_r6b_stat import R6B_QUERIES as _STAT
from .registry_r6b_text import R6B_QUERIES as _TEXT
from .registry_util import QueryDef

R6B_QUERIES: dict[str, QueryDef] = {**_STAT, **_ML, **_TEXT, **_EVENTS}

assert len(R6B_QUERIES) == len(_STAT) + len(_ML) + len(_TEXT) + len(_EVENTS)
