#!/usr/bin/env python3
"""Regenerate ``frozen_digests.json``: the expected output digest of every
workload for seeds 0-31 (``FROZEN_SEEDS``), from ``corpus.make_golden`` at the
current commit.

    python3 perfbench/freeze.py

Run it only when a change is meant to alter extraction output; the frozen
digests are what catches a kernel that silently changes recognized text.
"""

from __future__ import annotations

import json
import os
import sys

import workloads as W

FROZEN_SEEDS = 32


def main() -> int:
    root = str(W.HERE.parent)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    procs = len(os.sched_getaffinity(0))
    out = {}
    for name, wl in W.WORKLOADS.items():
        out[name] = {}
        for seed in range(FROZEN_SEEDS):
            docs, media = W.make_inputs(wl, seed, wl.n_docs)
            out[name][str(seed)] = W.digest(W.golden(docs, media, procs))
            print(f"{name} seed {seed}: {out[name][str(seed)][:16]}", file=sys.stderr)
    W.FROZEN_PATH.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
