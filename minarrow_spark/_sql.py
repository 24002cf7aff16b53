"""Identifier quoting for the SQL-string expression emitters
(``floordiv_int_sql``, ``token_count_sql``, ``cosine_sim_sql``)."""

from __future__ import annotations


def ident(name: str) -> str:
    """Backtick-quote a column name for embedding in Spark SQL; an embedded
    backtick is doubled (Spark's escape inside a quoted identifier)."""
    return "`" + name.replace("`", "``") + "`"
