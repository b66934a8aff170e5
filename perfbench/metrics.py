"""Turn one run's raw record into the correctness verdict and its metrics."""
import oracle
import stats

ENDPOINTS = ["query_movie_list", "query_movie", "query_order_list",
             "query_recommend_movie_list", "insert_order", "sales_rollup"]
MB = 1024.0 * 1024.0

# Index artifact names (BuildLedger keys) by the family that builds them
# (graft.sources.{Marts,GraphIndex,VectorIndex}); the rest are TextIndex's.
INDEX_PREFIXES = [("marts", ("lineitem_bkt", "orders_bkt", "events_by_day", "events_zorder")),
                  ("graph", ("trade_", "basket_")),
                  ("vector", ("lloyd_", "ivf_", "pqcodes", "pqlloyd", "lsh_"))]


def index_family(kind):
    for fam, prefixes in INDEX_PREFIXES:
        if kind.startswith(prefixes):
            return fam
    return "text"


def _phase_pairs(raw, names):
    return [(raw[f"phase.{n}"]["proc0"], raw[f"phase.{n}"]["proc1"])
            for n in names if f"phase.{n}" in raw]


def _end_to_end(setup_s, op_ms, work_s):
    q, tail = stats.tail(op_ms)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": stats.median(op_ms), "unit": "ms"},
        "op_p99_ms": {"value": tail, "unit": "ms"},
        "work_s": {"value": work_s, "unit": "s"},
    }, q


def _zero_layers(declared):
    """Every declared per-layer metric at zero: a layer the workload does
    not exercise reads 0."""
    return {d["name"]: (0.0, d["unit"]) for d in declared}


def _tasks(m, t):
    """Fold one task-sum record into the exec.* resource metrics."""
    def add(k, v):
        m[k] = (m[k][0] + v, m[k][1])
    add("exec.task_s", t["run_ms"] / 1000.0)
    add("exec.cpu_s", t["cpu_ns"] / 1e9)
    add("exec.gc_s", t["gc_ms"] / 1000.0)
    add("exec.input_mb", t["input_bytes"] / MB)
    add("exec.shuffle_read_mb", t["shuffle_read_bytes"] / MB)
    add("exec.shuffle_write_mb", t["shuffle_write_bytes"] / MB)
    add("exec.spill_mb", t["spill_bytes"] / MB)


def _plan(m, p):
    for k in ["exchanges", "reused_exchanges", "smj", "bhj", "bnlj", "rdd_scans"]:
        m[f"plan.{k}"] = (m[f"plan.{k}"][0] + p[k], "count")


def _sources(m, builds, index_bytes, input_bytes):
    m["sources.build_s"] = (sum(builds.values()), "s")
    m["sources.builds"] = (float(len(builds)), "count")
    for kind, s in builds.items():
        k = f"sources.build_s.{index_family(kind)}"
        m[k] = (m[k][0] + s, "s")
    m["sources.index_mb"] = (index_bytes / MB, "MB")
    m["sources.index_bytes_per_input_byte"] = (
        index_bytes / input_bytes if input_bytes else 0.0, "ratio")


def _query_layers(m, recs, cores, rollup):
    """Construction / execution / plan figures of traced query records,
    and, with ``rollup``, their per-family roll-up."""
    for r in recs:
        if not r.get("ok"):
            continue
        c, e = r["construct"], r["execute"]
        m["operators.construct_s"] = (m["operators.construct_s"][0] + r["construct_ms"] / 1000.0, "s")
        m["operators.construct_jobs"] = (m["operators.construct_jobs"][0] + c["jobs"], "count")
        m["exec.execute_s"] = (m["exec.execute_s"][0] + r["execute_ms"] / 1000.0, "s")
        m["exec.jobs"] = (m["exec.jobs"][0] + e["jobs"], "count")
        m["exec.stages"] = (m["exec.stages"][0] + e["stages"], "count")
        m["exec.tasks"] = (m["exec.tasks"][0] + e["tasks"]["tasks"], "count")
        m["exec.sched_gap_s"] = (m["exec.sched_gap_s"][0] + stats.sched_gap_s(
            r["execute_ms"] / 1000.0, e["tasks"]["run_ms"] / 1000.0, cores), "s")
        _tasks(m, c["tasks"])
        _tasks(m, e["tasks"])
        _plan(m, c["plan"])
        _plan(m, e["plan"])
    if not rollup:
        return
    for f, s in stats.family_rollup([(r["name"], r["ms"]) for r in recs]).items():
        m[f"analytics.family.{f}_s"] = (s, "s")


def _codegen(m, raw, phase):
    ph = raw.get(f"phase.{phase}", {})
    m["exec.codegen_compiles"] = (float(ph.get("codegen_compiles", 0)), "count")
    m["exec.codegen_ms"] = (float(ph.get("codegen_ms", 0.0)), "ms")


def _hand_counts(recs):
    """dq6 and gr16 figures, next to the counts the optimisation notes
    recorded by hand at local[32]."""
    notes = []
    for r in recs:
        if r["name"].startswith(("dq6_", "gr16_")) and r.get("ok"):
            notes.append(
                f"[perfbench] {r['name']}: construct jobs {r['construct']['jobs']}, "
                f"exec jobs {r['execute']['jobs']}, exec exchanges "
                f"{r['execute']['plan']['exchanges']} (+{r['execute']['plan']['reused_exchanges']} "
                f"reused); hand counts: dq6 12 Exchanges / 8 exec jobs, gr16 46 construction jobs")
    return notes


def evaluate(workload, raw, work, t_start_ms, layers=None, untraced_work_s=None):
    """Returns the result object and the note lines printed before it.

    ``layers`` are the declared per-layer metrics of a traced run (None
    for an untraced run); ``untraced_work_s`` is the median ``work_s`` of
    this build's untraced runs of the workload, for
    ``trace.overhead_frac``."""
    cores = raw["cores"]
    setup_s = (raw["first_timed_ms"] - t_start_ms) / 1000.0
    rss_mb = raw["vmhwm_kb"] / 1024.0
    notes, failures = [], []

    if workload == "engine":
        builds, recs, tb = raw["builds_pass"], raw["pass"], raw["batches"]
        verdict = oracle.check_queries(f"{work}/data", f"{work}/out/results",
                                       raw["oracle"], raw["checked"])
        verdict.update({n: f"raised {e}" for n, e in raw["check_errors"].items()})
        bad = {r["name"] for r in builds + recs if not r["ok"]} | {
            n for n, v in verdict.items() if v != "OK"}
        failures = [f"{n}: {verdict.get(n, 'raised in a timed phase')}" for n in sorted(bad)]
        failures += [f"stream {c['twin']} {c['check']}: {c['detail']}"
                     for c in raw["stream_checks"] if not c["ok"]]
        all_ms = [r["ms"] for r in builds + recs] + [b["ms"] for b in tb]
        attempted = len(all_ms)
        work_s = sum(all_ms) / 1000.0
        # percentiles over the pass's queries only: the median of all
        # operations fell among the micro-batches, whose times swing from
        # run to run more than the queries' do
        op_ms = [r["ms"] for r in recs]
        timed = ["builds", "pass", "streams"]
        notes.append(f"[perfbench] engine: builds {sum(r['ms'] for r in builds) / 1000:.3f} s, "
                     f"pass {sum(r['ms'] for r in recs) / 1000:.3f} s, "
                     f"streams {sum(b['ms'] for b in tb) / 1000:.3f} s")
    else:
        recs = raw["requests"]
        n_checked, shop_fail = oracle.check_shop(
            f"{work}/shop", f"{work}/order_initial.csv", raw["samples"], raw["inserted"])
        failures = [f"{r['endpoint']} #{r['index']}: {r['error']}" for r in recs if not r["ok"]]
        failures += shop_fail
        attempted = len(recs)
        op_ms = [r["end"] - r["due"] for r in recs]
        work_s = sum(r["end"] - r["start"] for r in recs) / 1000.0
        timed = ["replay"]
        notes.append(f"[perfbench] shop: {n_checked} sampled responses and checks against DuckDB")

    share = stats.phases_foreign_share(_phase_pairs(raw, timed))
    if share > stats.CONTAMINATED_SHARE:
        notes.append(f"[perfbench] CONTAMINATED: {share:.1%} of the machine's CPU time in "
                     f"the timed phases went to other processes or steal "
                     f"(bound {stats.CONTAMINATED_SHARE:.0%})")
    for f in failures[:20]:
        notes.append(f"[perfbench] FAILED {f}")
    e2e, q = _end_to_end(setup_s, op_ms, work_s)
    notes.append(f"[perfbench] {workload}: {attempted} operations, {len(failures)} failed; "
                 f"op_p99_ms is p{q} of {len(op_ms)} samples; "
                 f"host.foreign_cpu_share {share:.4f}")
    result = {"correct": not failures, "attempted": attempted,
              "failed": min(len(failures), attempted), "metrics": e2e}
    if layers is None:
        return result, notes

    m = _zero_layers(layers)
    m["op_p99_ms"] = (e2e.pop("op_p99_ms")["value"], "ms")
    m["host.foreign_cpu_share"] = (share, "ratio")
    m["host.peak_rss_mb"] = (rss_mb, "MB")
    if untraced_work_s:
        m["trace.overhead_frac"] = (work_s / untraced_work_s - 1.0, "ratio")
    _sources(m, raw.get("builds", {}), raw.get("index_bytes", 0), raw.get("input_bytes", 0))
    kinds = raw["kinds"]
    if workload == "engine":
        _query_layers(m, builds, cores, rollup=False)
        _query_layers(m, recs, cores, rollup=True)
        m["exec.codegen_compiles"] = (float(sum(raw[f"phase.{p}"]["codegen_compiles"]
                                                for p in timed)), "count")
        m["exec.codegen_ms"] = (float(sum(raw[f"phase.{p}"]["codegen_ms"] for p in timed)), "ms")
        st = kinds["start"]  # the jobs of the stream threads
        batch_s = sum(b["ms"] for b in tb) / 1000.0
        m["exec.execute_s"] = (m["exec.execute_s"][0] + batch_s, "s")
        m["exec.jobs"] = (m["exec.jobs"][0] + st["jobs"], "count")
        m["exec.stages"] = (m["exec.stages"][0] + st["stages"], "count")
        m["exec.tasks"] = (m["exec.tasks"][0] + st["tasks"]["tasks"], "count")
        m["exec.sched_gap_s"] = (m["exec.sched_gap_s"][0] + stats.sched_gap_s(
            batch_s, st["tasks"]["run_ms"] / 1000.0, cores), "s")
        _tasks(m, st["tasks"])
        _plan(m, st["plan"])
        twins = sorted({b["twin"] for b in tb})
        for t in twins:
            m[f"streaming.batch_ms.{t}"] = (stats.median(
                [b["ms"] for b in tb if b["twin"] == t]), "ms")
        m["streaming.delta_dirs"] = (float(sum(s["delta_dirs"] for s in raw["state"])), "count")
        m["streaming.state_mb"] = (sum(s["bytes"] for s in raw["state"]) / MB, "MB")
        m["streaming.growth"] = (stats.median(
            [stats.growth([b["ms"] for b in tb if b["twin"] == t]) for t in twins]), "ratio")
        m["streaming.rows_per_s"] = (sum(b["rows"] for b in tb) / batch_s, "rows/s")
        notes += _hand_counts(recs)
    else:
        for e in ENDPOINTS:
            m[f"movieshop.{e}_ms"] = (stats.median(
                [r["end"] - r["start"] for r in recs if r["endpoint"] == e]), "ms")
        m["shop.queue_wait_ms"] = (sum(r["start"] - r["due"] for r in recs) / len(recs), "ms")
        m["shop.generator_late_ms"] = (sum(r["enqueued"] - r["due"] for r in recs) / len(recs), "ms")
        c, e = kinds["construct"], kinds["execute"]
        construct_s = sum(r["construct_ms"] for r in recs) / 1000.0
        execute_s = work_s - construct_s
        m["operators.construct_s"] = (construct_s, "s")
        m["operators.construct_jobs"] = (float(c["jobs"]), "count")
        m["exec.execute_s"] = (execute_s, "s")
        m["exec.jobs"] = (float(e["jobs"]), "count")
        m["exec.stages"] = (float(e["stages"]), "count")
        m["exec.tasks"] = (float(e["tasks"]["tasks"]), "count")
        m["exec.sched_gap_s"] = (stats.sched_gap_s(execute_s, e["tasks"]["run_ms"] / 1000.0, cores), "s")
        _tasks(m, c["tasks"])
        _tasks(m, e["tasks"])
        _plan(m, c["plan"])
        _plan(m, e["plan"])
        _codegen(m, raw, "replay")
    result["metrics"] = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    return result, notes
