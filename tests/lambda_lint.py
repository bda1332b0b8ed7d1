"""Lambda-invariance lint over Spark plans.

Spark's higher-order functions (``transform``, ``aggregate``,
``zip_with``, ...) are interpreted, not code-generated: each element is
evaluated through the lambda body tree, and Catalyst's subexpression
elimination does not reach inside lambda bodies. A subtree of a lambda
body that reads none of that lambda's own variables has a value fixed per
row (or per step of an enclosing lambda), yet it is re-evaluated once per
element. This lint finds such subtrees in a plan.

The plan is read as ``TreeNode.toJSON`` (one py4j call per plan). Inputs a
builder has already materialized (``persist``, ``localCheckpoint``) are
leaves of that plan, so their expressions are not walked.
"""

from __future__ import annotations

import json

LAMBDA = "org.apache.spark.sql.catalyst.expressions.LambdaFunction"
LAMBDA_VAR = "org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable"
AGGREGATE = "org.apache.spark.sql.catalyst.expressions.ArrayAggregate"
TRANSFORM = "org.apache.spark.sql.catalyst.expressions.ArrayTransform"
CREATE_ARRAY = "org.apache.spark.sql.catalyst.expressions.CreateArray"
MIN_NODES = 4


class Node:
    __slots__ = ("cls", "fields", "children", "size", "free")

    def __init__(self, cls, fields, children):
        self.cls, self.fields, self.children = cls, fields, children
        self.size = 1 + sum(c.size for c in children)
        if cls == LAMBDA_VAR:
            self.free = {fields["exprId"]["id"]}
        else:
            self.free = set().union(*(c.free for c in children))
            if cls == LAMBDA:
                self.free -= set().union(*(c.free for c in children[1:]))

    def bound(self) -> set:
        """Variables a LambdaFunction binds (its argument nodes)."""
        return set().union(*(c.free for c in self.children[1:]))

    def text(self, limit: int = 120) -> str:
        def render(n):
            name = n.cls.rsplit(".", 1)[-1]
            if n.cls.endswith("AttributeReference") or n.cls == LAMBDA_VAR:
                return n.fields.get("name", name)
            if n.cls.endswith("Literal"):
                return str(n.fields.get("value"))
            return f"{name}({', '.join(render(c) for c in n.children)})"

        out = render(self)
        return out if len(out) <= limit else out[: limit - 3] + "..."


def _parse(nodes: list) -> list[Node]:
    """Pre-order node list (``num-children`` per node) -> root nodes."""
    pos = 0

    def one():
        nonlocal pos
        d = nodes[pos]
        pos += 1
        kids = [one() for _ in range(d["num-children"])]
        return Node(d["class"], d, kids)

    roots = []
    while pos < len(nodes):
        roots.append(one())
    return roots


def _is_tree(v) -> bool:
    return (
        isinstance(v, list)
        and bool(v)
        and all(isinstance(d, dict) and "class" in d and "num-children" in d for d in v)
    )


def _trees(obj):
    """Every tree serialized anywhere in a TreeNode JSON value."""
    if _is_tree(obj):
        for root in _parse(obj):
            yield root
        for d in obj:
            for k, v in d.items():
                if k not in ("class", "num-children"):
                    yield from _trees(v)
    elif isinstance(obj, list):
        for v in obj:
            yield from _trees(v)
    elif isinstance(obj, dict):
        for v in obj.values():
            yield from _trees(v)


def _runs_once(parent: Node, i: int) -> bool:
    """Whether the lambda at ``parent.children[i]`` runs once per
    evaluation of ``parent`` rather than per element: an ``aggregate``
    finish lambda, or a ``transform`` over a one-element ``array(...)``
    (the ``functions.bind`` idiom)."""
    if parent.cls == AGGREGATE:
        return i == 3
    arg = parent.children[0]
    return parent.cls == TRANSFORM and arg.cls == CREATE_ARRAY and len(arg.children) == 1


def _hits(root: Node):
    """Maximal lambda-invariant subtrees under ``root``.

    A node inside a lambda body is invariant when none of its free
    variables is bound by the innermost per-element lambda around it. A
    lambda that runs once (``_runs_once``) is not per-element: its body
    is checked against the enclosing lambda, with its own variables
    counting as varying."""
    out = []

    def walk(n: Node, inner: set | None):
        if (
            inner is not None
            and n.cls not in (LAMBDA, LAMBDA_VAR)
            and n.size >= MIN_NODES
            and not (n.free & inner)
        ):
            out.append(n)
            return
        for i, c in enumerate(n.children):
            if c.cls != LAMBDA:
                walk(c, inner)
            elif _runs_once(n, i):
                walk(c.children[0], None if inner is None else inner | c.bound())
            else:
                walk(c.children[0], c.bound())

    walk(root, None)
    return out


def lambda_invariant_subtrees(df) -> list[str]:
    """Rendered invariant subtrees in ``df``'s optimized plan. Empty means
    clean."""
    doc = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    return sorted({f"{h.size} nodes: {h.text()}" for r in _trees(doc) for h in _hits(r)})
