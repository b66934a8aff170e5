#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {shop,engine} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. The first run builds the library and the
benchmark from source with sbt (offline) into ``.bench_build/``; later runs
reuse that build until a Scala or sbt file changes. Each run generates its
inputs from ``--seed``, launches one benchmark JVM (``local[nproc]``),
checks the outputs against DuckDB after the timed phases, and prints one
JSON line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. See perfbench/README.md for what each workload and
metric means.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402  (the benchmark's own arithmetic, stdlib only)

# ---- workload sizes ---------------------------------------------------------
ENGINE_SF = 0.01         # generated tables for the engine workload
SHOP_MOVIES, SHOP_REVIEWS_PER_MOVIE, SHOP_ORDERS = 2000, 5, 500
SHOP_RATE = 2.0          # requests per second, fixed
SHOP_MIX = [("query_movie_list", 0.30), ("query_movie", 0.25),
            ("query_recommend_movie_list", 0.15), ("query_order_list", 0.15),
            ("sales_rollup", 0.10), ("insert_order", 0.05)]
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

REQUIRED = ["BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala",
            "tools/oracle_check.py", "perfbench/build.sbt"]
SCALA_TREES = ["src/main", "perfbench/src", "project", "perfbench/project"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime(root):
    newest = 0.0
    for top in ["build.sbt", "perfbench/build.sbt"] + SCALA_TREES:
        p = os.path.join(root, top)
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            if "/target" in d:
                continue
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(root, bdir):
    """Compile the library and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_source_mtime(root):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        r = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export Runtime/fullClasspath"],
                        cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
                        timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {r}); see {log}")
    # untraced runs of the previous build are no reference for this one
    for f in os.listdir(bdir):
        if f.startswith("untraced-"):
            os.remove(os.path.join(bdir, f))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_bounded(cmd, cwd, env=None, stdout=None, timeout=RUN_TIMEOUT_S):
    """Run a command in its own process group; kill the group on timeout
    and always wait for it to end. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---- inputs -------------------------------------------------------------------

def balanced(rng, options, k):
    """``k`` picks that take every option equally often (to within one),
    in a seeded order."""
    picks = [options[i % len(options)] for i in range(k)]
    rng.shuffle(picks)
    return picks


def shop_requests(path, seed, n, rate, movies):
    """Open-loop arrivals: ``n`` requests with exponential gaps at ``rate``
    per second, parameters in the reference's forms (OrderList.vue's LIKE
    patterns, Boarding.vue's top 15). Each endpoint gets its SHOP_MIX
    share of the ``n`` requests exactly (largest remainder), in a seeded
    order. The draws are stratified: the gaps are the ``n`` quantiles of
    the exponential distribution, and each endpoint's parameter forms
    (empty or one-letter search key, page offset, LIKE form) come in fixed
    shares, all in a seeded order. Seeds then vary the order, the movies,
    letters and dates, but not the set of gaps or the share of each form."""
    rng = random.Random(seed * 7919 + 17)
    counts = {ep: int(share * n) for ep, share in SHOP_MIX}
    by_remainder = sorted(SHOP_MIX, key=lambda m: -(m[1] * n - int(m[1] * n)))
    for ep, _ in by_remainder[:n - sum(counts.values())]:
        counts[ep] += 1
    endpoints = [ep for ep, c in counts.items() for _ in range(c)]
    rng.shuffle(endpoints)
    gaps = balanced(rng, [-math.log(1.0 - (i + 0.5) / n) / rate for i in range(n)], n)
    # per endpoint, its parameter forms in fixed shares: 2 in 5 movie-list
    # searches have an empty key, offsets cycle over the first pages
    n_list, n_orders = counts["query_movie_list"], counts["query_order_list"]
    list_forms = iter(zip(balanced(rng, [True, True, False, False, False], n_list),
                          balanced(rng, [0, 10, 20, 30, 40], n_list)))
    order_forms = iter(zip(balanced(rng, ["%", "y-%", "y-m-%", "y-m-d%", "%-%-d%", "y-%-d%"],
                                    n_orders),
                           balanced(rng, [0, 10, 20], n_orders)))
    t = 0.0
    years = ["2015", "2016", "2017", "2018", "2019"]
    lines = []
    for ep, gap in zip(endpoints, gaps):
        t += gap * 1000.0
        mid, name, price = movies[rng.randrange(len(movies))]
        if ep == "query_movie_list":
            empty, start = next(list_forms)
            key = "" if empty else name[rng.randrange(len(name))]
            p = [str(start), "10", key]
        elif ep == "query_movie":
            p = [str(mid)]
        elif ep == "query_recommend_movie_list":
            p = ["15"]
        elif ep == "query_order_list":
            form, start = next(order_forms)
            y, m, d = rng.choice(years), f"{rng.randint(1, 12):02d}", f"{rng.randint(1, 28):02d}"
            pat = form.replace("y", y).replace("m", m).replace("d", d)
            p = [str(start), "10", pat]
        elif ep == "sales_rollup":
            p = []
        else:
            num = rng.randint(1, 4)
            p = [str(mid), name, str(num), repr(round(price * num + rng.random() * 0.1, 3))]
        lines.append("\t".join([f"{t:.3f}", ep] + p))
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")


def untraced_work_s(history):
    """Median work_s of the untraced runs recorded since the last build
    (``build`` clears the record), the reference for trace.overhead_frac
    (None if none)."""
    if not os.path.exists(history):
        return None
    with open(history) as f:
        vals = [json.loads(l)["work_s"] for l in f if l.strip()]
    return stats.median(vals) if vals else None


# ---- the run --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["shop", "engine"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops and waits for its JVM (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        fail(f"run from the repository root; missing {', '.join(missing)}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bdir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(bdir, exist_ok=True)
    cp = build(root, bdir)

    import gen  # numpy / pandas / pyarrow; after the cheap checks above
    import metrics
    t_start_ms = time.time() * 1000.0
    work = os.path.join(bdir, f"work-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cores = len(os.sched_getaffinity(0))
        args = {"workload": a.workload, "seed": str(a.seed), "trace": str(a.trace),
                "cores": str(cores), "out": os.path.join(work, "out")}
        if a.workload == "engine":
            gen.synthetic_tables(f"{work}/data", a.seed, ENGINE_SF)
            args.update(data=f"{work}/data")
        else:
            movies = gen.shop_tables(f"{work}/shop", a.seed, SHOP_MOVIES,
                                     SHOP_REVIEWS_PER_MOVIE, SHOP_ORDERS)
            shutil.copy(f"{work}/shop/order.csv", f"{work}/order_initial.csv")
            shop_requests(f"{work}/requests.tsv", a.seed, int(round(SHOP_RATE * a.seconds)),
                          SHOP_RATE, movies)
            args.update(shop=f"{work}/shop", requests=f"{work}/requests.tsv")
        # temporary and shuffle files stay inside the run's directory
        for d in ("tmp", "spark-local"):
            os.makedirs(f"{work}/{d}")
        cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/spark-local"]
               + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
               + ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]
               + [x for k, v in args.items() for x in (f"--{k}", v)])
        budget = RUN_TIMEOUT_S - (time.time() * 1000.0 - t_start_ms) / 1000.0
        with open(f"{work}/jvm.log", "w") as log:
            code = run_bounded(cmd, cwd=work, stdout=log, timeout=budget)
        raw_path = f"{work}/out/raw.json"
        if code != 0 or not os.path.exists(raw_path):
            with open(f"{work}/jvm.log") as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"benchmark JVM exited with {code}", 1)
        with open(raw_path) as f:
            raw = json.load(f)
        declared = spec["per_layer" if a.trace else "end_to_end"]
        history = os.path.join(bdir, f"untraced-{a.workload}-{a.seconds}s.jsonl")
        result, notes = metrics.evaluate(a.workload, raw, work, t_start_ms,
                                         declared if a.trace else None,
                                         untraced_work_s(history))
        # report exactly the metrics BENCHMARK.json declares, in its units
        got = result["metrics"]
        wrong = [d["name"] for d in declared
                 if d["name"] not in got or got[d["name"]]["unit"] != d["unit"]]
        if wrong:
            fail(f"metrics missing or in another unit than declared: {wrong}", 1)
        result["metrics"] = {d["name"]: got[d["name"]] for d in declared}
        if not a.trace:
            with open(history, "a") as f:
                f.write(json.dumps({"seed": a.seed, "work_s":
                                    result["metrics"]["work_s"]["value"]}) + "\n")
        if a.trace:
            trace_dir = os.path.join(root, ".bench_build", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            spans = raw.get("spans", [])
            own = stats.self_times(spans)
            with open(f"{trace_dir}/{a.workload}-seed{a.seed}.json", "w") as f:
                json.dump([dict(s, self_ms=own[s["id"]]) for s in spans], f)
        for line in notes:
            print(line)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
