"""The served workloads: request mixes, server settings, and the
known-defect probes each one sends after its timed phase.

A round is one copy of the workload's mix in a seed-chosen order. The
seed also draws the point-lookup keys; the server sees only the
generated SQL.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from client import Request

# Registry entries whose DuckDB oracle text is served as-is.
INTERACTIVE_TWINS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q10_returned_items",
    "q21_suppliers_kept_waiting",
    "tumbling_window_events",
    "sessionization_30min",
)

# Point lookups, as many per round as there are twins.
LOOKUPS = (
    # (table, template, key domain per unit of scale factor, lookups per round)
    (
        "orders",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        "o_orderpriority FROM orders WHERE o_orderkey = {k}",
        1_500_000,
        3,
    ),
    (
        "customer",
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
        "FROM customer WHERE c_custkey = {k}",
        150_000,
        2,
    ),
    (
        "lineitem",
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
        "l_shipdate FROM lineitem WHERE l_orderkey = {k}",
        1_500_000,
        3,
    ),
)

EXPORT_ORDERED = (
    "SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_shipdate "
    "FROM lineitem ORDER BY l_orderkey, l_linenumber"
)

EXPORT_MIX = (
    # (name, text, format, gzip)
    ("lineitem", "SELECT * FROM lineitem", "arrow", False),
    ("lineitem", "SELECT * FROM lineitem", "jsonl", False),
    ("orders", "SELECT * FROM orders", "arrow", False),
    ("orders", "SELECT * FROM orders", "jsonl", False),
    ("orders", "SELECT * FROM orders", "json", False),
    ("orders", "SELECT * FROM orders", "jsonl", True),
    ("documents", "SELECT * FROM documents", "jsonl", False),
    ("lineitem_ordered", EXPORT_ORDERED, "arrow", False),
)


def _export(name: str, sql: str, fmt: str, gz: bool) -> Request:
    return Request(f"export:{name}:{fmt}{':gzip' if gz else ''}", sql, fmt, gz)


def kind(key: str) -> str:
    """Request kind for reporting: lookups group by table."""
    return key.rsplit(":", 1)[0] if key.startswith("lookup:") else key


@dataclass(frozen=True)
class Probe:
    """A request that fails today for a known reason; sent once after the
    timed phase and reported, so the defect stays visible."""

    name: str
    req: Request
    defect: str


@dataclass
class Workload:
    name: str
    sf: float
    clients: int
    pool_size: int
    query_timeout_s: float
    deadline_s: float
    ordered_keys: tuple[str, ...] = ()  # request kinds whose row order is checked

    def round(self, rng: random.Random, used: set[str]) -> list[Request]:
        """One copy of the mix; `used` holds the keys drawn so far."""
        raise NotImplementedError

    def warmup(self, rng: random.Random, used: set[str]) -> list[Request]:
        """Requests that compile and cache what the timed phase needs."""
        raise NotImplementedError

    def plan(self, seed: int, n: int) -> tuple[list[Request], list[list[Request]]]:
        """The warm-up and `n` rounds of one run: the same for every server
        lifetime of the run, and for every run with this seed."""
        used: set[str] = set()
        warm = self.warmup(random.Random(~seed), used)
        rng = random.Random(seed)
        return warm, [self.round(rng, used) for _ in range(n)]

    def probes(self) -> list[Probe]:
        return []


class Interactive(Workload):
    def __init__(self) -> None:
        super().__init__(
            "interactive", sf=0.01, clients=4, pool_size=2, query_timeout_s=30, deadline_s=60
        )
        from uquery_rs_spark import queries as Q

        Q.load_all()
        self._twins = {n: Q.REGISTRY[n].oracle for n in INTERACTIVE_TWINS}
        self._asof = Q.REGISTRY["asof_join_purchase_view"].oracle

    def round(self, rng: random.Random, used: set[str]) -> list[Request]:
        """Twins and lookups alternate, each kind in a shuffled order, so the
        requests in flight together are the same blend whatever the seed."""
        twins = [Request(f"twin:{n}", sql, "json") for n, sql in self._twins.items()]
        lookups = []
        for table, template, per_sf, count in LOOKUPS:
            domain = int(per_sf * self.sf)
            for _ in range(count):
                # distinct texts: a key is never drawn twice in one run
                while (key := f"lookup:{table}:{rng.randrange(domain)}") in used:
                    pass
                used.add(key)
                sql = template.format(k=key.rsplit(":", 1)[1])
                lookups.append(Request(key, sql, "json"))
        rng.shuffle(twins)
        rng.shuffle(lookups)
        return [r for pair in zip(twins, lookups) for r in pair]

    def warmup(self, rng: random.Random, used: set[str]) -> list[Request]:
        """Every twin and one lookup per table, with keys the timed phase
        never draws."""
        firsts: dict[str, Request] = {}
        for r in self.round(rng, used):
            firsts.setdefault(kind(r.key), r)
        return list(firsts.values())

    def probes(self) -> list[Probe]:
        return [
            Probe(
                "asof_join_purchase_view",
                Request("probe:asof", self._asof, "json"),
                "ASOF join over derived tables fails analysis on the served path "
                "(unresolved p.event_id)",
            )
        ]


class Export(Workload):
    def __init__(self) -> None:
        super().__init__(
            "export",
            sf=0.01,
            clients=1,
            pool_size=4,
            # bounds the CSV probe's stall; the slowest first batch here is
            # well under a second
            query_timeout_s=3,
            deadline_s=60,
            ordered_keys=("export:lineitem_ordered:arrow",),
        )

    def round(self, rng: random.Random, used: set[str]) -> list[Request]:
        reqs = [_export(*m) for m in EXPORT_MIX]
        rng.shuffle(reqs)
        return reqs

    def warmup(self, rng: random.Random, used: set[str]) -> list[Request]:
        """Each text once, covering the Arrow path, both JSON writers on
        the executor path, and gzip; the largest export (lineitem as
        JSONL) is left out to keep the warm-up short."""
        warm = ("lineitem:arrow", "orders:json", "orders:jsonl:gzip", "documents:jsonl",
                "lineitem_ordered:arrow")
        return [r for r in map(_export, *zip(*EXPORT_MIX)) if r.key.split(":", 1)[1] in warm]

    def probes(self) -> list[Probe]:
        return [
            Probe(
                "csv_export_stall",
                Request("probe:csv", "SELECT * FROM orders", "csv"),
                "CsvWriter writes one chunk per row into the 64-chunk queue before "
                "the first-batch signal, so a CSV result of 64+ rows stalls until "
                "the query timeout (408) and leaks its pool permit",
            )
        ]


WORKLOADS = {"interactive": Interactive, "export": Export}
