"""SQL-text helpers for operators that build one ``selectExpr`` projection
instead of a chain of Column calls.

An expression string costs one py4j command as an element of the
projection's argument list; a Column chain sends several commands per
column (``F.col``, the aggregate, the window spec, ``.over``,
``withColumn`` and its re-analysis), which dominated plan build time for
wide frames.
"""

from __future__ import annotations

from collections.abc import Sequence

#: frame of an aggregate that sees its whole (ordered) partition
WHOLE_PARTITION = "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def _q(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), so any column name survives ``selectExpr``/``where``."""
    return "`" + name.replace("`", "``") + "`"


def let(name: str, value: str, body: str) -> str:
    """SQL text of ``body`` with the lambda variable ``name`` bound to
    ``value``. Spark evaluates ``value`` once per row, however often
    ``body`` or a lambda inside it reads ``name``; an expression written
    out inside a lambda body is evaluated again for every element."""
    return f"transform(array({value}), {name} -> {body})[0]"


def over(key: str, order: str | Sequence[str] = (), frame: str = "") -> str:
    """``OVER (PARTITION BY key [ORDER BY order…] [frame])``, ascending
    with nulls first like ``Window.orderBy``."""
    spec = f"PARTITION BY {_q(key)}"
    if order:
        names = [order] if isinstance(order, str) else order
        spec += " ORDER BY " + ", ".join(_q(c) for c in names)
    if frame:
        spec += " " + frame
    return f"OVER ({spec})"
