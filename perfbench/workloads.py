"""Workload registry: name → class. Every workload exposes ``n_ops``,
``prepare()`` (input generation), ``warm()`` (the rest of the untimed
set-up: seed cycle, checking pass or first batch), ``op_kind(i)``,
``op(i) -> {"fold": s, "read": s}``, ``check(oks) -> (failed op
indices, notes)``, ``layer_facts()`` and ``setup_parts``."""

from __future__ import annotations


def names() -> list[str]:
    return ["crawl_hourly", "registry_sweep", "corpus_stream"]


def make(name: str, ctx):
    if name == "crawl_hourly":
        from crawl import CrawlHourly

        return CrawlHourly(ctx)
    if name == "corpus_stream":
        from corpus import CorpusStream

        return CorpusStream(ctx)
    if name == "registry_sweep":
        from registry import RegistrySweep

        return RegistrySweep(ctx)
    raise ValueError(f"unknown workload {name!r}; choose from {names()}")
