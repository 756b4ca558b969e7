"""The registry keys ``query_mix`` times.

A pass over a random sample of keys is dominated by which heavy keys
the sample happens to hold: on a 4-core host a fresh process pays
0.3 s for some keys and 10-15 s for others (cold memo builds, MLlib,
Python data sources), so passes over seed-drawn 12-key samples spread
by 30% between seeds. ``query_mix`` therefore times one fixed panel,
chosen so that every layer the open work will change is on it next to
plain-SQL controls, in a fixed order: which key runs first on a cold
JVM moves that key by 1-2 s, so a seed-shuffled order spread the median
key wall by 25% between seeds.
"""

from __future__ import annotations

#: key -> (registering module, why it is on the panel)
PANEL = {
    "agg_cube": ("operators.aggregates", "control: grouping sets over one shuffle"),
    "q_shipping_priority": ("operators.analytics", "control: a TPC-H style three-way join"),
    "udf_sentiment": ("functions.sentiment", "row Python UDF: the Python worker boundary"),
    "text_collocation_pmi": ("operators.text_analysis", "byte-gated subtree checkpoint"),
    "text_bpe_tokens": ("operators.text_analysis", "hand-ported exact-duplicate collapse"),
    "stream_dedup_state": (
        "streaming.queries",
        "availableNow drain with a state store in fn(), over a fixture dir cache",
    ),
}

#: the registering modules on the panel (``<module>.wall_s``)
MODULES = tuple(sorted({m for m, _ in PANEL.values()}))


def module_of(fn) -> str:
    """Registering module of a query fn, relative to the package."""
    return fn.__module__.split(".", 1)[1]
