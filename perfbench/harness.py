"""Op recording shared by the workloads.

Every op a workload times goes through :meth:`Recorder.run` (or
:meth:`Recorder.record` when the op's start and end are observed apart,
as for a streaming commit). Output checks run after the clock stops and
turn a wrong answer into a failed op; an exception is a failed op too.
Nothing is retried and nothing is corrected.
"""

from __future__ import annotations

import dataclasses
import sys
import time
import traceback
from typing import Any, Callable


@dataclasses.dataclass
class Op:
    op_id: str
    kind: str
    start: float
    end: float
    ok: bool
    warm: bool

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Recorder:
    def __init__(self, tracer=None):
        self.ops: list[Op] = []
        self.tracer = tracer
        self.warm = True  # flipped by run.py when the timed phase begins
        self._n = 0

    def next_id(self, kind: str) -> str:
        self._n += 1
        return f"{self._n}:{kind}"

    def _check(self, kind: str, check: Callable[[Any], bool], res) -> bool:
        if self.tracer is not None:
            self.tracer.begin_op("check")
        try:
            ok = bool(check(res))
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            if self.tracer is not None:
                self.tracer.end_op()
        if not ok:
            print(f"perfbench: output check failed for {kind}",
                  file=sys.stderr)
        return ok

    def run(self, kind: str, fn: Callable[[], Any],
            check: Callable[[Any], bool] | None = None) -> Any:
        op_id = self.next_id(kind)
        if self.tracer is not None:
            self.tracer.begin_op(op_id)
        res, ok = None, True
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        t1 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.end_op()
        if ok and check is not None:
            ok = self._check(kind, check, res)
        self.ops.append(Op(op_id, kind, t0, t1, ok, self.warm))
        return res

    def record(self, op_id: str, kind: str, t0: float, t1: float,
               ok: bool) -> None:
        self.ops.append(Op(op_id, kind, t0, t1, ok, self.warm))

    def timed(self) -> list[Op]:
        return [o for o in self.ops if not o.warm]
