"""Seeded YupanaQL statement templates with their DuckDB equivalents.

Every draw picks a new time window and new literals, so no statement text
repeats in a run.  A template returns (yupanaql, duckdb_sql); the two
statements return the same columns in the same order, which is how the
benchmark checks results after the timed phase.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

ADJ = ["red", "blue", "small", "large", "hot", "cold", "new", "old"]
NOUN = ["widget", "bolt", "gear", "ring", "rod", "plate", "anvil", "gizmo"]
PHRASES = [f"{a} {n}" for a, n in zip(ADJ, NOUN)] + NOUN + ADJ

EV_START = dt.datetime(2024, 1, 1)
FACT_START = dt.datetime(1995, 1, 1)


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


def _window(rng, start: dt.datetime, span_days: int, days: float):
    """A window of fixed length at a seeded offset: each draw is new text,
    but a template's work stays about the same from draw to draw."""
    length = dt.timedelta(days=days)
    off = dt.timedelta(seconds=int(rng.integers(
        0, int((dt.timedelta(days=span_days) - length).total_seconds()))))
    a = start + off
    return _ts(a), _ts(a + length)


def _tb(col: str, a: str, b: str) -> str:
    return f"{col} >= TIMESTAMP '{a}' AND {col} < TIMESTAMP '{b}'"


def ev_day_rollup(rng):
    a, b = _window(rng, EV_START, 30, 12)
    v = round(float(rng.uniform(15, 25)), 2)
    agg = ("count(event_id) AS n, "
           "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v")
    return (f"SELECT trunc_day(time) AS d, event_type, {agg} FROM events "
            f"WHERE {_tb('time', a, b)} AND value > {v} GROUP BY d, event_type",
            f"SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, event_type,"
            f" {agg} FROM events WHERE {_tb('ts', a, b)} AND value > {v} "
            f"GROUP BY ALL")


def li_month_rollup(rng):
    a, b = _window(rng, FACT_START, 2500, 540)
    agg = ("count(l_orderkey) AS n, "
           "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS q")
    return (f"SELECT trunc_month(time) AS m, l_returnflag, {agg} "
            f"FROM lineitem WHERE {_tb('time', a, b)} GROUP BY m, l_returnflag",
            f"SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS m, "
            f"l_returnflag, {agg} FROM lineitem "
            f"WHERE {_tb('l_shipdate', a, b)} GROUP BY ALL")


def orders_having(rng):
    a, b = _window(rng, FACT_START, 2400, 1000)
    k = 6
    return (f"SELECT o_custkey, count(o_orderkey) AS cnt FROM orders "
            f"WHERE {_tb('time', a, b)} GROUP BY o_custkey "
            f"HAVING count(o_orderkey) > {k}",
            f"SELECT o_custkey, count(o_orderkey) AS cnt FROM orders "
            f"WHERE {_tb('o_orderdate', a, b)} GROUP BY o_custkey "
            f"HAVING count(o_orderkey) > {k}")


def currency_arith(rng):
    a, b = _window(rng, FACT_START, 2500, 400)
    d = int(rng.integers(3, 6)) / 100
    return (f"SELECT l_returnflag, "
            f"sum(CAST(l_extendedprice AS CURRENCY)) AS rev, "
            f"sum(CAST(l_extendedprice AS CURRENCY)) "
            f"/ sum(CAST(l_quantity AS CURRENCY)) AS ppu FROM lineitem "
            f"WHERE {_tb('time', a, b)} AND l_discount >= {d} "
            f"GROUP BY l_returnflag",
            f"SELECT l_returnflag, "
            f"sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev, "
            f"CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
            f"/ CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ppu "
            f"FROM lineitem WHERE {_tb('l_shipdate', a, b)} "
            f"AND l_discount >= {d} GROUP BY l_returnflag")


def ev_lag(rng):
    a, b = _window(rng, EV_START, 30, 2)
    u = int(rng.integers(45, 55))
    return (f"SELECT user_id, time AS t, lag(time) AS prev_t FROM events "
            f"WHERE {_tb('time', a, b)} AND user_id < {u} GROUP BY user_id",
            f"SELECT user_id, ts AS t, lag(ts) OVER (PARTITION BY user_id "
            f"ORDER BY ts) AS prev_t FROM events "
            f"WHERE {_tb('ts', a, b)} AND user_id < {u}")


def customer_link(rng):
    a, b = _window(rng, FACT_START, 2400, 800)
    p = int(rng.integers(100000, 200000))
    agg = ("count(o_orderkey) AS cnt, "
           "CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue")
    return (f"SELECT CustomerLink_c_mktsegment AS seg, {agg} FROM orders "
            f"WHERE {_tb('time', a, b)} AND o_totalprice > {p} GROUP BY seg",
            f"SELECT c_mktsegment AS seg, {agg} FROM orders "
            f"LEFT JOIN customer ON o_custkey = c_custkey "
            f"WHERE {_tb('o_orderdate', a, b)} AND o_totalprice > {p} "
            f"GROUP BY ALL")


def part_supplier_links(rng):
    a, b = _window(rng, FACT_START, 2500, 700)
    x = int(rng.integers(4000, 6000))
    return (f"SELECT PartLink_p_brand AS brand, count(l_orderkey) AS cnt "
            f"FROM lineitem WHERE {_tb('time', a, b)} "
            f"AND SupplierLink_s_acctbal > {x} GROUP BY brand",
            f"SELECT p_brand AS brand, count(l_orderkey) AS cnt FROM lineitem "
            f"LEFT JOIN part ON l_partkey = p_partkey "
            f"LEFT JOIN supplier ON l_suppkey = s_suppkey "
            f"WHERE {_tb('l_shipdate', a, b)} AND s_acctbal > {x} "
            f"GROUP BY ALL")


def inverted_index(rng, phrase: str):
    a, b = _window(rng, FACT_START, 2500, 800)
    words = " AND ".join(f"list_contains(string_split(p_name, ' '), '{w}')"
                         for w in phrase.split())
    agg = ("count(l_orderkey) AS cnt, "
           "CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS q")
    return (f"SELECT l_returnflag, {agg} FROM lineitem "
            f"WHERE {_tb('time', a, b)} "
            f"AND ItemsInvertedIndex_phrase = '{phrase}' GROUP BY l_returnflag",
            f"SELECT l_returnflag, {agg} FROM lineitem "
            f"WHERE {_tb('l_shipdate', a, b)} AND l_partkey IN "
            f"(SELECT p_partkey FROM part WHERE {words}) GROUP BY l_returnflag")


def tpch_q1(rng):
    end = _ts(dt.datetime(1998, 12, 1)
              - dt.timedelta(days=int(rng.integers(60, 121))))
    body = """l_returnflag, l_linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
              AS sum_base_price,
          CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
          count(l_orderkey) AS count_order"""
    return (f"SELECT {body} FROM lineitem WHERE "
            f"{_tb('time', '1995-01-01 00:00:00', end)} "
            f"GROUP BY l_returnflag, l_linestatus",
            f"SELECT {body} FROM lineitem WHERE "
            f"{_tb('l_shipdate', '1995-01-01 00:00:00', end)} GROUP BY ALL")


def tpch_q6(rng):
    year = int(rng.integers(1995, 2001))
    disc = int(rng.integers(2, 9)) / 100
    qty = int(rng.integers(20, 30))
    a, b = f"{year}-01-01 00:00:00", f"{year + 1}-01-01 00:00:00"
    where = (f"l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} "
             f"AND l_quantity < {qty}")
    agg = ("CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
           "* CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) "
           "AS revenue")
    return (f"SELECT {agg} FROM lineitem WHERE {_tb('time', a, b)} AND {where}",
            f"SELECT {agg} FROM lineitem WHERE {_tb('l_shipdate', a, b)} "
            f"AND {where}")


def ev_detail(rng):
    a, b = _window(rng, EV_START, 30, 0.8)
    cols = "event_id, user_id, event_type, value"
    return (f"SELECT {cols}, time AS t FROM events WHERE {_tb('time', a, b)}",
            f"SELECT {cols}, ts AS t FROM events WHERE {_tb('ts', a, b)}")


TEMPLATES = {f.__name__: f for f in (
    ev_day_rollup, li_month_rollup, orders_having, currency_arith, ev_lag,
    customer_link, part_supplier_links, inverted_index, tpch_q1, tpch_q6,
    ev_detail)}

#: the reader of ``ingest_mixed``: a day rollup over the table the writer
#: keeps rewriting.  One template, so the reader's few samples per run are
#: alike and their median is steady.
EVENT_TEMPLATES = ("ev_day_rollup",)


class Mix:
    """Seeded statement stream that visits every template once per cycle,
    in a new order each cycle, so a short run still sees every template
    about equally often and its median is not set by the draw.

    Inverted-index statements draw their phrase with Zipf weights over
    ``phrases``, most popular first, so the engine's phrase memo sees
    repeats."""

    def __init__(self, rng: np.random.Generator, names=tuple(TEMPLATES),
                 phrases=tuple(PHRASES)):
        self.rng, self.names, self.queue = rng, list(names), []
        self.phrases = list(phrases)

    def _phrase(self) -> str:
        rank = min(int(self.rng.zipf(1.6)), len(self.phrases))
        return self.phrases[rank - 1]

    def draw(self, name=None, phrase=None):
        """(template name, yupanaql, duckdb sql) for the next statement, or
        for ``name`` (and ``phrase``) when given, outside the cycle."""
        if name is None:
            if not self.queue:
                self.queue = [self.names[i] for i in
                              self.rng.permutation(len(self.names))]
            name = self.queue.pop()
        if name == "inverted_index":
            yql, duck = inverted_index(self.rng, phrase or self._phrase())
        else:
            yql, duck = TEMPLATES[name](self.rng)
        return name, yql, duck
