"""Pipeline spec model: stage normalization + type grouping.

Mirrors the reference's spec semantics (/root/reference/index.js:76-115)
with the *intended* surface per SURVEY.md §2.4:

* a bare string stage means ``{command: <str>, type: 'pipe'}`` (the
  format ``gasket add`` writes, /root/reference/bin.js:100, even though
  v2.0.1's normalizer throws on it);
* ``{module: ...}`` / ``json: true`` stages are first-class (documented
  at /root/reference/readme.md:83-113 but unreachable from JSON config
  in v2.0.1 because normalization strips all fields but ``command``,
  /root/reference/index.js:83);
* the nested ``{"command": {"module": ...}}`` readme form
  (/root/reference/readme.md:89-92) normalizes to a module stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

STAGE_TYPES = ("pipe", "run", "fork", "background", "map", "reduce")


@dataclass
class Stage:
    r"""One pipeline stage.

    kind: 'command' (external OS command, one child per partition over
    Spark's JVM ``PipedRDD``: ``\n``, ``\r\n`` and a lone ``\r`` each end
    an output row; the child inherits the executor's environment with
    the engine's env and ``GASKET_PIPELINE`` laid over it; a non-zero
    exit fails the action) or 'module' (in-process transform: a Python
    callable or dotted import path).
    ``json=True`` lifts line input into typed records before the module
    runs and serializes back to NDJSON lines after — the reference's
    ndjson sandwich (/root/reference/index.js:73).
    """

    kind: str  # 'command' | 'module'
    type: str = "pipe"
    command: str | None = None
    module: str | Callable | None = None
    json: bool = False
    schema: Any = None  # optional pinned schema for json=True
    params: list[str] = field(default_factory=list)

    def to_json(self) -> Any:
        if self.kind == "command" and self.type == "pipe" and not self.params:
            return self.command
        out: dict[str, Any] = {"type": self.type}
        if self.kind == "command":
            out["command"] = self.command
        else:
            out["module"] = self.module if isinstance(self.module, str) else "<callable>"
            if self.json:
                out["json"] = True
        if self.params:
            out["params"] = list(self.params)
        return out


def normalize_stage(raw: Any) -> Stage:
    """Normalize every documented stage form to a :class:`Stage`."""
    if isinstance(raw, Stage):
        return raw
    if isinstance(raw, str):
        # intended semantics for bare strings (SURVEY §2.4 item 1)
        return Stage(kind="command", command=raw, type="pipe")
    if callable(raw):
        # programmatic function stage (/root/reference/index.js:84)
        return Stage(kind="module", module=raw, type="pipe")
    if isinstance(raw, dict):
        d = dict(raw)
        # readme's nested {"command": {"module": ...}} form
        if isinstance(d.get("command"), dict):
            inner = d.pop("command")
            d = {**inner, **d}
        stype = d.get("type", "pipe")
        if stype not in STAGE_TYPES:
            raise ValueError(f"unsupported stage type: {stype!r}")
        params = [str(p) for p in d.get("params", [])]
        if d.get("module") is not None or callable(d.get("exports")):
            return Stage(
                kind="module",
                module=d.get("exports") or d.get("module"),
                json=bool(d.get("json", False)),
                schema=d.get("schema"),
                type=stype,
                params=params,
            )
        if isinstance(d.get("command"), str):
            return Stage(kind="command", command=d["command"], type=stype,
                         params=params)
    raise ValueError(f"unsupported stage form: {raw!r}")


def split_groups(stages: list[Any]) -> list[list[Stage]]:
    """Partition the stage list into maximal runs of equal type — the
    pipeline's parse step (/root/reference/index.js:94-115)."""
    groups: list[list[Stage]] = []
    current: list[Stage] = []
    prev_type: str | None = None
    for raw in stages or []:
        st = normalize_stage(raw)
        if st.type == prev_type:
            current.append(st)
        else:
            prev_type = st.type
            if current:
                groups.append(current)
            current = [st]
    if current:
        groups.append(current)
    return groups
