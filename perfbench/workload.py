"""GraphQL request templates and the seeded request streams.

Pure Python: nothing here imports Spark, so the stream rules are testable
without a session.  Every template is one top-level cube field whose
metrics are exactly comparable with the DuckDB oracle (counts, distinct
counts, min/max, the exact-cents ``revenue`` and integer-valued
``quantity`` sums), and every ``limit`` sits under a total order.

Two serving workloads share the templates and the mix; they differ only
in whether variables repeat:

* ``serve_repeat`` draws each template's variables once from the seed and
  reuses them, so after warm-up every request hits the per-cube plan and
  representation-choice caches;
* ``serve_distinct`` draws fresh variables for every request from wide
  ranges and never sends the same (template, variables) pair twice, so
  no request hits (the cache key carries literal values).

``pipeline_batch`` builds and collects LLM-pipeline rows of
``__spark_entry__.queries()``, one row per operator target: build-side
eager jobs (``semantic_dedup``), execution-job fan-out across the Arrow
``mapInPandas`` boundary (``ann_recall_audit``) and plain compute
(``quantiles``).  Its inputs are fixed; the seed orders each pass.
"""

from __future__ import annotations

import datetime
import json
import random
from dataclasses import dataclass
from typing import Callable, Iterator

SERVE_WORKLOADS = ("serve_repeat", "serve_distinct")
WORKLOADS = SERVE_WORKLOADS + ("pipeline_batch",)
PIPELINE_ROWS = ("semantic_dedup", "ann_recall_audit", "quantiles")

_SHIP_FIRST = datetime.date(1995, 1, 2)    # lineitem.l_shipdate range
_SHIP_LAST = datetime.date(2001, 11, 4)
_ORDER_FIRST = datetime.date(1995, 1, 1)   # orders.o_orderdate range
_ORDER_LAST = datetime.date(2001, 8, 1)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_FLAGS = ("A", "N", "R")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _day(rng: random.Random, first: datetime.date,
         last: datetime.date) -> datetime.date:
    return first + datetime.timedelta(days=rng.randrange((last - first).days))


def _window(rng: random.Random, first: datetime.date, last: datetime.date,
            min_days: int, max_days: int) -> tuple[str, str]:
    """[start, end) date window inside [first, last]."""
    start = _day(rng, first, last - datetime.timedelta(days=min_days))
    end = min(start + datetime.timedelta(
        days=rng.randint(min_days, max_days)), last)
    return start.isoformat(), end.isoformat()


@dataclass(frozen=True)
class Template:
    name: str
    cube: str
    document: str
    draw: Callable[[random.Random], dict]


def _rollup_flags(rng):
    since, till = _window(rng, _SHIP_FIRST, _SHIP_LAST, 30, 900)
    return {"since": since, "till": till}


def _rollup_monthly(rng):
    return {"flag": rng.choice(_FLAGS),
            "since": _day(rng, _SHIP_FIRST, _SHIP_LAST).isoformat()}


def _star_nation(rng):
    since, till = _window(rng, _ORDER_FIRST, _ORDER_LAST, 60, 1200)
    return {"region": rng.choice(_REGIONS), "since": since, "till": till}


def _top_groups(rng):
    return {"qty": round(rng.uniform(1.0, 45.0), 2),
            "n": rng.randint(1, 6)}


def _alias_fanout(rng):
    return {"disc": round(rng.uniform(0.0, 0.1), 3),
            "till": _day(rng, _SHIP_FIRST, _SHIP_LAST).isoformat()}


def _docs_top(rng):
    return {"chars": rng.randint(44, 560), "n": rng.randint(1, 40)}


def _events_daily(rng):
    return {"type": rng.choice(_EVENT_TYPES),
            "value": round(rng.uniform(0.0, 500.0), 2)}


def _order_years(rng):
    since, till = _window(rng, _SHIP_FIRST, _SHIP_LAST, 60, 1500)
    return {"prio": rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                "4-NOT SPECIFIED", "5-LOW")),
            "since": since, "till": till}


TEMPLATES: tuple[Template, ...] = (
    # covered by the daily rollup: slice, selector and metrics all exist
    # at (returnflag, linestatus, ship_date) grain
    Template("rollup_flags", "sales", """
      query RollupFlags($since: String, $till: String) {
        sales(shipdate: {gteq: $since, lt: $till}) {
          returnflag linestatus count quantity revenue
        } }""", _rollup_flags),
    # rollup-covered date sub-fields (nested response objects)
    Template("rollup_monthly", "sales", """
      query RollupMonthly($flag: String, $since: String) {
        sales(returnflag: $flag, shipdate: {gteq: $since}) {
          shipdate { year month } count revenue min_price max_price
        } }""", _rollup_monthly),
    # star join lineitem -> orders -> customer -> nation -> region
    Template("star_nation", "sales", """
      query StarNation($region: String, $since: String, $till: String) {
        sales(region: $region, orderdate: {gteq: $since, lt: $till}) {
          nation count orders revenue
        } }""", _star_nation),
    # fact-fact join to orders with a date sub-field of the joined table
    Template("order_years", "sales", """
      query OrderYears($prio: String, $since: String, $till: String) {
        sales(orderpriority: $prio, shipdate: {gteq: $since, lt: $till}) {
          orderdate { year } orderstatus count quantity
        } }""", _order_years),
    # ordered options: desc + limit under a total order
    Template("top_groups", "sales", """
      query TopGroups($qty: Float, $n: Int) {
        sales(quantity: {gteq: $qty},
              options: {desc: ["revenue", "returnflag", "linestatus"],
                        limit: $n}) {
          returnflag linestatus revenue count
        } }""", _top_groups),
    # metric aliases, one with a metric-scoped filter
    Template("alias_fanout", "sales", """
      query AliasFanout($disc: Float, $till: String) {
        sales(shipdate: {lt: $till}) {
          returnflag cnt: count rev_hi: revenue(discount: {gteq: $disc})
          rev: revenue
        } }""", _alias_fanout),
    # the LLM-pipeline documents corpus
    Template("docs_top", "documents", """
      query DocsTop($chars: Int, $n: Int) {
        documents(n_chars: {gteq: $chars},
                  options: {desc: ["docs", "lang", "source"], limit: $n}) {
          lang source docs cnt: count chars
        } }""", _docs_top),
    # the events stream with a timestamp date sub-field
    Template("events_daily", "events", """
      query EventsDaily($type: String, $value: Float) {
        events(event_type: $type, value: {gteq: $value}) {
          ts { date } count users max_value
        } }""", _events_daily),
)

BY_NAME = {t.name: t for t in TEMPLATES}


@dataclass(frozen=True)
class Request:
    template: str
    variables: dict

    def body(self) -> bytes:
        """The JSON POST body a GraphQL client would send."""
        return json.dumps({"query": BY_NAME[self.template].document,
                           "variables": self.variables}).encode()

    def key(self) -> tuple[str, str]:
        """Identity of the request's content (template + variables)."""
        return self.template, json.dumps(self.variables, sort_keys=True)


def requests(workload: str, seed: int) -> Iterator[Request]:
    """Endless request stream: cycles of one request per template, each
    cycle in a seeded order.  ``serve_repeat`` reuses one variable draw
    per template; ``serve_distinct`` never yields the same request twice."""
    if workload not in SERVE_WORKLOADS:
        raise ValueError(f"unknown serving workload {workload!r}; "
                         f"choose from {', '.join(SERVE_WORKLOADS)}")
    rng = random.Random(f"{workload}:{seed}")
    fixed = {t.name: t.draw(rng) for t in TEMPLATES}
    seen: set[tuple[str, str]] = set()
    order = [t.name for t in TEMPLATES]
    while True:
        rng.shuffle(order)
        for name in order:
            if workload == "serve_repeat":
                yield Request(name, fixed[name])
                continue
            while True:
                req = Request(name, BY_NAME[name].draw(rng))
                if req.key() not in seen:
                    seen.add(req.key())
                    yield req
                    break


def passes(seed: int) -> Iterator[list[str]]:
    """Endless ``pipeline_batch`` stream: each pass is every pipeline row
    once, in a seeded order."""
    rng = random.Random(f"pipeline_batch:{seed}")
    order = list(PIPELINE_ROWS)
    while True:
        rng.shuffle(order)
        yield list(order)
