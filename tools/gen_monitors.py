"""Render docs/MONITORS.md from the streaming-twin registry
(vnavc_spark.streaming.ingest.TWINS — the same dict the `monitor`
CLI derives its command table from, so the doc cannot drift from the
CLI; tests/test_cli.py pins doc == regenerated output).

Usage: python tools/gen_monitors.py [--check]
  --check: exit 1 if docs/MONITORS.md differs from the regenerated
  content instead of writing it.
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "docs", "MONITORS.md")


def render() -> str:
    sys.path.insert(0, REPO)
    from vnavc_spark.streaming.ingest import TWINS

    lines = [
        "# MONITORS — streaming-twin surface",
        "",
        "GENERATED by tools/gen_monitors.py from",
        "`vnavc_spark.streaming.ingest.TWINS` — edit the registry,",
        "not this file. The `monitor` CLI derives its command table",
        "from the same registry, so this doc and the CLI agree by",
        "construction.",
        "",
        "Every twin is one mergeable-partial spec `(partial, merge,",
        "finalize)` (`vnavc_spark/operators/mergeable.py`) that its",
        "batch query also runs as `finalize(partial(table))`. The",
        "stream side (`ingest.start_partials`, or the listed starter)",
        "writes `spec.partial` of each micro-batch under",
        "`partials/batch_id=N` — a replayed batch id overwrites its",
        "own partial in place, so delivery is effectively",
        "exactly-once; the snapshot side (`ingest.snapshot`) returns",
        "`finalize(merge(staged partials))`, the batch query's exact",
        "output (streaming == batch is an identity, parity-tested in",
        "tests/test_streaming.py / test_stateful_streaming.py).",
        "Recompute any readout with:",
        "",
        "    python -m vnavc_spark monitor <twin> --partials <dir> [flags]",
        "",
        "| Twin | Batch query (parity target) | Staged partials | Stream fn | Spec | Tuning flags |",
        "|---|---|---|---|---|---|",
    ]
    for name, info in sorted(TWINS.items()):
        flags = (
            " ".join(f"`--{f}`" for f in info["flags"])
            if info["flags"]
            else "—"
        )
        batch = ", ".join(info["batch"])
        spec = info["spec"]
        spec = f"{spec.__module__.rsplit('.', 1)[-1]}.{spec.__name__}"
        start = info.get("start", "start_partials")
        lines.append(
            f"| {name} | {batch} | {info['partials']} | "
            f"`{start}` | `{spec}` | {flags} |"
        )
    lines += [
        "",
        f"{len(TWINS)} twins registered.",
        "",
        "## Failure modes & recovery",
        "",
        "The staged-partials pattern fails OPERATIONALLY in three",
        "ways; the first two are generic, the third is per-twin:",
        "",
        "1. **Missing batch partial** (files deleted / write died",
        "   mid-batch): snapshots read the whole partials dir, so a",
        "   missing `batch_id=N` silently UNDER-COUNTS additive",
        "   twins — the snapshot is the batch query over the data",
        "   that IS staged, not an error. Detection is the replay",
        "   path: re-delivering batch N through the same",
        "   checkpoint rewrites `batch_id=N` in",
        "   place (mode=overwrite per batch directory), after which",
        "   the snapshot is exact again. Nothing ever needs a",
        "   from-scratch restage.",
        "2. **Replayed / duplicated batch**: same mechanism, by",
        "   design — a replayed batch id overwrites its OWN partial",
        "   only, so delivery is effectively exactly-once for every",
        "   twin (and value-level re-delivery inside a batch unions",
        "   away for the distinct-pair stagers).",
        "3. **Parameter / state mismatches** are REFUSED loudly",
        "   where detectable, never absorbed:",
        "",
    ]
    guarded = {
        name: info["guards"]
        for name, info in sorted(TWINS.items())
        if info.get("guards")
    }
    for name, guards in guarded.items():
        for g in guards:
            lines.append(f"- **{name}**: {g}")
    lines += [
        "",
        f"{len(guarded)} of {len(TWINS)} twins carry such guards;",
        "the rest have no tunable that can diverge from their staged",
        "state (their only failure modes are the generic two above).",
        "",
    ]
    return "\n".join(lines)


def main() -> int:
    content = render()
    if "--check" in sys.argv[1:]:
        on_disk = (
            open(OUT, encoding="utf-8").read()
            if os.path.exists(OUT)
            else ""
        )
        if on_disk != content:
            print(
                "docs/MONITORS.md is stale — run "
                "`python tools/gen_monitors.py`",
                file=sys.stderr,
            )
            return 1
        print("docs/MONITORS.md is current")
        return 0
    with open(OUT, "w", encoding="utf-8") as fh:
        fh.write(content)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
