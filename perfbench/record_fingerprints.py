#!/usr/bin/env python3
"""Record the expected result of every corpus_operators query.

Each query runs once in Spark over the corpus tables in
``perfbench/data/``; its result must equal the catalog's DuckDB oracle
before its fingerprint is written to ``perfbench/corpus_fingerprints.json``.
Run from the repository root after a change to the tables or to the
query set:

    python3 perfbench/record_fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys

if __name__ == "__main__":
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    from perfbench.run import ROOT, Session, pin_environment
    from perfbench.workloads import FINGERPRINTS, SHAPES, CorpusOperators

    recorded = {}
    for shape in ("full", "tiny"):
        work = os.path.join(ROOT, ".perfbench", "work", f"record-{shape}")
        pin_environment(work)
        wl = CorpusOperators(0, 1, work, SHAPES[shape])
        wl.load_catalog()
        session = Session(wl.session)
        try:
            recorded[shape] = wl.record(session.start())
        finally:
            session.close()
    with open(FINGERPRINTS, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
