"""In-memory span tracer that wraps the package's layer boundaries from
outside the package.

Each wrapped call records a span: name, start, end, parent, thread and a
cycle label set by the client. The parent is the enclosing span on the
same thread; calls on the engine's table-pool threads have no enclosing
span there, so their parent is the open ``job.run_plans`` span. Spans
stay in memory until ``dump``. ``enabled`` can be switched off between
cycles, so one traced run also measures the same cycles untraced and the
difference is the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import threading
import time

from oracledb_datapump_spark import catalog, dumpset, engine, job, request, session


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "thread", "cycle", "attrs")

    def __init__(self, id, name, start, parent, thread, cycle):
        self.id, self.name, self.start, self.parent = id, name, start, parent
        self.thread, self.cycle, self.end, self.attrs = thread, cycle, None, {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.cycle = "setup"
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._run_plans: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str) -> Span:
        stack = self._stack()
        thread = threading.current_thread().name
        if stack:
            parent = stack[-1].id
        elif thread.startswith("ThreadPoolExecutor") and self._run_plans:
            parent = self._run_plans[-1].id
        else:
            parent = None
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), parent, thread, self.cycle)
            self.spans.append(sp)
            if name == "job.run_plans":
                self._run_plans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack().pop()
        if sp.name == "job.run_plans":
            with self._lock:
                self._run_plans.remove(sp)

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    def wrap(self, owner: object, attr: str, name: str, label=None, post=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.
        ``label(args, kwargs)`` may refine the span name; ``post(span,
        args)`` may add attributes once the call returns."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer._open(label(args, kwargs) if label else name)
            try:
                return fn(*args, **kwargs)
            finally:
                if post:
                    post(sp, args)
                tracer._close(sp)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def count_events(self) -> None:
        """Count the events ``DumpSet.read_events`` yields into the
        enclosing span (``status.from_events`` reads the whole log)."""
        fn = dumpset.DumpSet.read_events
        tracer = self

        @functools.wraps(fn)
        def read_events(*args, **kwargs):
            sp = tracer.current() if tracer.enabled else None
            for ev in fn(*args, **kwargs):
                if sp is not None:
                    sp.attrs["events"] = sp.attrs.get("events", 0) + 1
                yield ev

        self._patched.append((dumpset.DumpSet, "read_events", fn))
        dumpset.DumpSet.read_events = read_events

    def install(self) -> None:
        """Wrap each layer at the name its caller looks up."""
        self.wrap(session, "get_spark", "session.get_spark")
        self.wrap(
            request, "handle_request", "request",
            label=lambda a, k: "request." + str(
                (json.loads(a[0]) if isinstance(a[0], str) else a[0]).get("request", "")
            ).lower(),
        )
        self.wrap(
            job.Job, "run", "job.run",
            post=lambda sp, a: sp.attrs.update(job_name=a[0].job_name),
        )
        self.wrap(job, "compile_directives", "directives.compile")
        self.wrap(job, "plan_export", "planner.plan_export")
        self.wrap(job, "plan_import", "planner.plan_import")
        self.wrap(job, "run_plans", "job.run_plans")
        self.wrap(engine, "export_table", "engine.export_table")
        self.wrap(engine, "import_table", "engine.import_table")
        for cls, tag in ((catalog.ParquetConnector, "parquet"), (catalog.DuckDbConnector, "duckdb")):
            for m in ("read_table", "write_table", "list_tables", "table_exists"):
                self.wrap(cls, m, f"catalog.{tag}.{m}")
        self.wrap(dumpset.DumpSet, "log_event", "dumpset.log_event")
        self.wrap(dumpset.DumpSet, "write_manifest", "dumpset.write_manifest")
        self.wrap(job, "status_from_events", "status.from_events")
        self.count_events()

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.to_dict() for s in self.spans if s.end is not None], f)


# -- analysis ---------------------------------------------------------------
def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its
    children cover (children clipped to the parent, overlaps merged)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = s.dur - covered
    return out


def attach_async_jobs(spans: list[Span]) -> None:
    """A ``SUBMIT(wait=false)`` returns while the job runs on its own
    ``datapump-<job name>`` thread. Extend each such ``job.run`` span to
    the end of that thread's last span and adopt the thread's root spans
    as its children, so ``job.run`` self time covers the whole job."""
    by_thread: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is None and s.thread.startswith("datapump-"):
            by_thread.setdefault(s.thread, []).append(s)
    for s in spans:
        if s.name != "job.run" or "job_name" not in s.attrs:
            continue
        roots = by_thread.get("datapump-" + s.attrs["job_name"], [])
        for r in roots:
            r.parent = s.id
        if roots:
            s.end = max(s.end, max(r.end for r in roots))
