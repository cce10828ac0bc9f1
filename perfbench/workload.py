"""What every workload module provides to ``run.py``.

A workload writes its seeded inputs (``generate``, in the launching
process, before the measured process starts), loads them into the engine
(``setup``), yields one pass of operations at a time (``pass_ops``) and
checks the outputs after the measured window (``check``). In a traced
run it also installs its span wrappers (``install_tracing``) and names
which spans feed which per-layer metric (``SPAN_METRICS``).
"""

from __future__ import annotations

import hashlib
import importlib.util
from contextlib import nullcontext
from pathlib import Path

#: The repository root (``perfbench/`` sits directly under it).
ROOT = Path(__file__).resolve().parent.parent


def load_tool(name: str):
    """Import ``tools/<name>.py`` of the repository by path (``tools`` is
    not a package)."""
    spec = importlib.util.spec_from_file_location(name, ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class BaseWorkload:
    #: Name of the span around each whole operation.
    ROOT_SPAN = "op"
    #: Per-layer metric -> span key (see ``tracing.span_totals``).
    SPAN_METRICS: dict[str, str] = {}

    def __init__(self, root: Path, work: Path, seed: int) -> None:
        self.root, self.work, self.seed = root, work, seed
        self.spark = None
        self.tracer = None
        #: What ``generate`` returned (sizes, and whatever the run needs).
        self.inputs: dict = {}
        #: Output checks made besides the operations themselves.
        self.extra_attempted = 0
        self.extra_failed = 0

    def generate(self) -> dict:
        """Write the seeded input files under ``self.work``; return a
        JSON-able description of them."""
        raise NotImplementedError

    def attach(self, spark) -> None:
        self.spark = spark

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer

    def check(self, ops) -> list[str]:
        """Check every operation's output; mark failures on the operation
        (``ok``, ``error``). Checks that need no operation result count in
        ``extra_attempted``/``extra_failed``; returns their failure
        messages."""
        return []

    def before_pass(self, pass_no: int) -> None:
        """Un-timed reset before each pass."""

    def after_op(self, op) -> None:
        """Un-timed bookkeeping after each operation of a traced run."""

    def layer_metrics(self, measured) -> dict:
        return {}

    def digest(self, ops) -> str:
        """Digest of every output, for comparing runs with one seed."""
        h = hashlib.sha256()
        for o in ops:
            if not o.warm and o.pass_no == ops[-1].pass_no:
                h.update(f"{o.type}\0{self.output_key(o.output)}\n".encode())
        return h.hexdigest()

    def output_key(self, output) -> str:
        return repr(output)
