"""Record, and compare, the exchanges every gate query executes.

Runs the given gates (or all of them) at an sf dir and reads the final
physical plan of every SQL execution each gate runs -- the ones it runs
while being built (collects, counts, localCheckpoints, writes) and the
final collect -- from the SQL status store.  From each plan it keeps the
Exchange / BroadcastExchange / ReusedExchange lines (and the
InMemoryRelation lines of cached inputs) of the final AQE plan, with
expression ids and plan ids dropped, so two checkouts of the engine can be
compared exchange by exchange.  A refactor that claims "same plans" is
checked by recording both checkouts and diffing the two files.

Usage:
    python tools/plan_identity.py SF_DIR [GATE ...] --out NEW.json
        [--against OLD.json] [--repo CHECKOUT]
    python tools/plan_identity.py NEW.json --against OLD.json

--repo imports the gates from another checkout (default: the one this
file sits in), so a parent commit extracted with `git archive` can be
recorded with this tool.  With --against, gates whose execution lists
differ are printed and the exit status is 1.  Gates in NOISY plan
differently between two runs of identical code (a broadcast build-side
key flip, an exchange more or less in one execution); a difference there
is reported as noise, not as a difference.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

NOISY = frozenset(
    {
        "dup_components",
        "dedup_keep_best",
        "neardup_dedup_corpus",
        "image_dedup_keep_best",
        "geo_image_dedup",
        "trim_spans_corpus",
        "span_dedup_corpus",
    }
)

_KEEP = ("Exchange", "BroadcastExchange", "ReusedExchange", "InMemoryRelation")
_IDS = re.compile(r"#\d+L?|\[plan_id=\d+\]|\[id=#?\d+\]")


def _node_col(line: str) -> int:
    return len(line) - len(line.lstrip(" :|+-"))


def plan_lines(text: str) -> list[str]:
    """Exchange-family lines of a plan's final form, ids dropped.  The
    `== Initial Plan ==` subtree of every AdaptiveSparkPlan is skipped."""
    out, skip_at = [], None
    for line in text.splitlines():
        col = _node_col(line)
        if skip_at is not None:
            if col > skip_at:
                continue
            skip_at = None
        node = line[col:]
        if node.startswith("== Initial Plan =="):
            skip_at = col
            continue
        if node.startswith(_KEEP):
            out.append(_IDS.sub("", node).rstrip())
    return out


def record(sf_dir: str, gates: list[str], repo: str) -> dict:
    sys.path.insert(0, repo)
    os.chdir(repo)
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    import __spark_entry__ as E
    from osmquadtree_rust_spark.session import get_spark

    spark = get_spark(
        "plan-identity",
        shuffle_partitions=16,
        extra_conf={
            "spark.sql.ui.retainedExecutions": "1000000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    jsc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions_since(n0: int) -> tuple[list[list[str]], int]:
        jsc.listenerBus().waitUntilEmpty()
        n1 = store.executionsCount()
        if n1 == n0:
            return [], n1
        seq = store.executionsList(n0, n1 - n0)
        execs = sorted(
            (seq.apply(i) for i in range(seq.size())),
            key=lambda e: e.executionId(),
        )
        return [plan_lines(e.physicalPlanDescription()) for e in execs], n1

    qs = E.queries()
    unknown = [g for g in gates if g not in qs]
    if unknown:
        raise SystemExit(f"unknown gate(s): {unknown}")
    out = {"sf_dir": sf_dir, "repo": repo, "gates": {}, "errors": {}}
    _, n = executions_since(0)
    for name, fn in qs.items():
        if gates and name not in gates:
            continue
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            fn(spark, sf_dir).collect()
        except Exception as ex:  # noqa: BLE001 -- recorded, not fatal
            out["errors"][name] = str(ex).splitlines()[0][:300]
        out["gates"][name], n = executions_since(n)
        print(
            f"{name:28s} {len(out['gates'][name])} executions "
            f"{sum(map(len, out['gates'][name]))} exchanges "
            f"({time.time() - t0:.1f}s)",
            flush=True,
        )
    return out


def diff(new: dict, old: dict) -> int:
    """Print per-gate differences; return the number of real ones."""
    ng, og = new["gates"], old["gates"]
    same, noise, real = [], [], []
    for name in sorted(set(ng) | set(og)):
        if name not in ng or name not in og:
            real.append(name)
            print(f"{name}: only in {'new' if name in ng else 'old'}")
            continue
        if ng[name] == og[name]:
            same.append(name)
            continue
        (noise if name in NOISY else real).append(name)
        tag = "noise" if name in NOISY else "DIFF"
        print(f"{name}: {tag} ({len(og[name])} -> {len(ng[name])} executions)")
        for i in range(max(len(ng[name]), len(og[name]))):
            a = og[name][i] if i < len(og[name]) else None
            b = ng[name][i] if i < len(ng[name]) else None
            if a != b:
                print(f"  execution {i}:")
                print(f"    old: {a}")
                print(f"    new: {b}")
    for side, rec in (("old", old), ("new", new)):
        for name, err in rec.get("errors", {}).items():
            print(f"{name}: raised on the {side} side: {err}")
            if name not in real:
                real.append(name)
    print(
        f"{len(same)} identical, {len(noise)} noise "
        f"({', '.join(noise) or '-'}), {len(real)} different "
        f"({', '.join(real) or '-'})"
    )
    return len(real)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("target", help="sf dir to run, or a recorded JSON file")
    ap.add_argument("gates", nargs="*", help="gate names (default: all)")
    ap.add_argument("--out", help="write the record here")
    ap.add_argument("--against", help="recorded JSON file to diff against")
    ap.add_argument(
        "--repo",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        help="checkout whose gates are run",
    )
    args = ap.parse_args()
    out, against = (
        os.path.abspath(p) if p else None for p in (args.out, args.against)
    )
    if args.target.endswith(".json"):
        with open(args.target) as f:
            new = json.load(f)
    else:
        new = record(
            os.path.abspath(args.target), args.gates, os.path.abspath(args.repo)
        )
        if out:
            with open(out, "w") as f:
                json.dump(new, f, indent=1, sort_keys=True)
    if against:
        with open(against) as f:
            old = json.load(f)
        sys.exit(1 if diff(new, old) else 0)


if __name__ == "__main__":
    main()
