"""Regenerate ``expected.json``: for each workload, size and seed, the
content digest of the generated input and, for the filter workloads, the
digest of the membership answers a correct build gives (computed with a
one-process build, which answers exactly as the distributed one).  Runs
must then reproduce both.  Only re-record after a deliberate change to an
input generator or to the filter's hash or fingerprint layout.

    python3 perfbench/record.py [first_seed] [last_seed]
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> None:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import gen
    from workloads import WORKLOADS, answers_digest, read_column

    from cuckoofilter_spark.core.dynamic_filter import DynamicCuckooFilter

    lo, hi = (int(argv[0]), int(argv[1])) if argv else (0, 19)
    cache = os.path.join(root, ".perfbench", "inputs")
    out = {}
    for size, seeds in (("default", range(lo, hi + 1)), ("smoke", range(0, 1))):
        for seed in seeds:
            for name, cls in WORKLOADS.items():
                d, manifest = gen.load(name, seed, size, cache, {})
                rec = {"content_sha256": manifest["content_sha256"]}
                if name != "neardup_docs":
                    wl = cls(None, d, manifest, {})
                    files = wl.files
                    col = "tokens" if name == "zipf_build" else "key"
                    f = DynamicCuckooFilter(cls.params, dedup=True)
                    f.insert(read_column(files, col))
                    rec["answers_md5"] = answers_digest(f, wl.answer_keys)
                out[f"{name}/{size}/{seed}"] = rec
                print(name, size, seed, rec, file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:])
