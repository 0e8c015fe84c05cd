from . import (  # noqa: F401
    agent_metrics,
    curation,
    llm_data,
    relational,
    sqltext,
    tables,
    tpch_shapes,
)

_MODULES = (llm_data, tpch_shapes, agent_metrics, relational, curation, sqltext)


def _merge(attr: str) -> dict:
    # Cross-module collisions are as silent as in-module ones under a
    # bare dict.update — raise (not assert: python -O compiles asserts
    # out, silently restoring the shadowing) so the catalog can never
    # shadow.
    out: dict = {}
    for m in _MODULES:
        d = getattr(m, attr)
        dup = out.keys() & d.keys()
        if dup:
            raise ValueError(
                f"cross-module query collision: {sorted(dup)}"
            )
        out.update(d)
    return out


def all_queries() -> dict:
    return _merge("QUERIES")


def all_oracles() -> dict:
    return _merge("ORACLES")
