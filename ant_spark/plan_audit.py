"""Structural checks over ``explain("formatted")`` plans.

A formatted plan prints the operator tree (one ``Name (id)`` per line,
children indented under their parent) and then one ``(id) Name`` details
block per node. ``bucketed_join_problems`` walks that tree to check the
storage-partitioned join shape the engine relies on in ``pages_table`` and
bucketed-state mode: the bucketed table is read in place, and only the
other join side is shuffled — into the table's bucket layout.
"""

from __future__ import annotations

import re

_NODE = re.compile(r"^(?P<pre>[ :+\-*]*)(?P<name>[A-Za-z].*?) \((?P<id>\d+)\)$")


def tagged_plans(out: str, tag: str) -> list[str]:
    """The plans printed after each ``[tag ...]`` header line in ``out``
    (the engine's explain hooks print one per round)."""
    return [
        chunk for chunk in re.split(r"^\[", out, flags=re.M)[1:]
        if chunk.startswith(tag)
    ]


def parse_tree(plan: str) -> tuple[dict[int, str], dict[int, list[int]], dict[int, str]]:
    """``(names, children, details)`` of a formatted plan, keyed by node
    id. A node's parent is the nearest line above it whose name starts
    further left."""
    names: dict[int, str] = {}
    children: dict[int, list[int]] = {}
    stack: list[tuple[int, int]] = []  # (name column, id) of open ancestors
    tree, _, rest = plan.partition("\n\n\n")
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m is None:
            continue
        col, nid = len(m["pre"]), int(m["id"])
        names[nid] = m["name"]
        children.setdefault(nid, [])
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            children[stack[-1][1]].append(nid)
        stack.append((col, nid))
    details = {
        int(m[1]): m[2]
        for m in re.finditer(r"^\((\d+)\) [^\n]*\n(.*?)(?=^\(\d+\) |\Z)", rest, re.M | re.S)
    }
    return names, children, details


def _exchanges(nid: int, names, children) -> list[int]:
    """Exchange nodes in the subtree of ``nid``, not counting the plans
    nested in an ``InMemoryRelation`` (a cache is read, not recomputed)."""
    if names[nid] == "InMemoryRelation":
        return []
    own = [nid] if "Exchange" in names[nid] else []
    return own + [x for c in children[nid] for x in _exchanges(c, names, children)]


def bucketed_join_problems(plan: str, table: str, key: str, buckets: int) -> list[str]:
    """What is wrong with the join over the bucketed scan of ``table``
    (an empty list when nothing is):

    - no Exchange or BroadcastExchange sits between that scan and its join;
    - the scan shows ``Bucketed: true``;
    - the join's other child carries exactly one Exchange (not counting
      cached plans), which hashes ``key`` into ``buckets`` partitions.
    """
    names, children, details = parse_tree(plan)
    parent = {c: p for p, cs in children.items() for c in cs}
    scans = [n for n, name in names.items() if name.startswith("Scan") and table in name]
    if not scans:
        return [f"no scan of {table}"]
    problems = []
    for scan in scans:
        if "Bucketed: true" not in details.get(scan, ""):
            problems.append(f"scan ({scan}) of {table} is not bucketed")
        node, path = scan, []
        while node in parent and "Join" not in names[node]:
            path.append(node)
            node = parent[node]
        if "Join" not in names[node]:
            problems.append(f"scan ({scan}) of {table} feeds no join")
            continue
        moved = [n for n in path if "Exchange" in names[n]]
        if moved:
            problems.append(f"{names[moved[0]]} ({moved[0]}) above the {table} scan")
        other = [c for c in children[node] if c != path[-1]]
        ex = [x for c in other for x in _exchanges(c, names, children)]
        want = re.compile(rf"hashpartitioning\({re.escape(key)}#\d+L?, {buckets}\)")
        if len(ex) != 1:
            problems.append(
                f"{names[node]} ({node}): {len(ex)} Exchanges on the side "
                f"joined to {table}, want 1"
            )
        elif not want.search(details.get(ex[0], "")):
            problems.append(
                f"Exchange ({ex[0]}) does not hash {key} into {buckets} "
                f"partitions: {details.get(ex[0], '').strip()[:200]}"
            )
    return problems
