"""Driver-contract invariants that need no Spark session."""


def test_queries_and_oracles_key_aligned():
    """Every queries() entry must have an oracle_sql() twin and vice versa
    — the correctness gate silently skips orphans, so drift here would
    demote a query to untested without any failure signal."""
    import __spark_entry__ as E

    q = set(E.queries())
    o = set(E.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))


def test_oracles_are_nonempty_sql():
    import re

    import __spark_entry__ as E

    for name, sql in E.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
        # catch unformatted f-string placeholders like {threshold} while
        # allowing regex quantifier braces like {1,3} / {2,} in patterns
        leftover = re.search(r"\{[A-Za-z_][A-Za-z_0-9]*\}", sql)
        assert not leftover, (
            f"{name}: unformatted placeholder {leftover and leftover.group()}"
        )


# Results are signed in registry order and each gate is compared with its
# oracle text, so edits to the q_* builders must leave both unchanged.
QUERIES_ORDER_SHA256 = (
    "e1c005144c79d36827f5228f9d1da87f66b25bb8600a3c4da1a822919014a04f")
ORACLE_SQL_SHA256 = (
    "d34e25eaeac682e5c5307d86859e2e15639a9e9c8bbe8101ddef77ce8fa88184")


def _sha256(lines):
    import hashlib

    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def test_queries_order_is_pinned():
    import __spark_entry__ as E

    names = list(E.queries())
    assert len(names) == 183
    assert _sha256(names) == QUERIES_ORDER_SHA256


def test_oracle_sql_texts_are_pinned():
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    assert _sha256(f"{k}\0{oracles[k]}" for k in sorted(oracles)) == (
        ORACLE_SQL_SHA256)
