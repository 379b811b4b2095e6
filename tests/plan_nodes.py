"""Exchange nodes of a physical plan string, counted by kind.

A bare ``"Exchange" in plan`` substring test cannot say which exchange it
means: it also matches BroadcastExchange, ReusedExchange and the reused
exchange's description. `exchange_kinds` reads one node per plan line and
keys it by node name plus partitioning, e.g. ``"Exchange hashpartitioning"``,
``"Exchange RoundRobinPartitioning"``, ``"Exchange SinglePartition"``,
``"BroadcastExchange HashedRelationBroadcastMode"`` or ``"ReusedExchange"``.
"""

from __future__ import annotations

import re
from collections import Counter

# tree-drawing prefix, optional whole-stage-codegen marker "*(3) ", then the
# node name; the partitioning (or broadcast mode) is the next word
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\) )?(\w*Exchange)\b[ ]?(\w*)")


def exchange_kinds(plan: str) -> Counter:
    kinds: Counter = Counter()
    for line in plan.splitlines():
        m = _NODE.match(line)
        if m:
            kinds[" ".join(filter(None, m.groups()))] += 1
    return kinds
