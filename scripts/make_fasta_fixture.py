"""Regenerate the committed synthetic FASTA fixture under ``data/fasta/``.

The fixture stands in for a small genome in the FASTA k-mer workload (the
``fasta_kmers`` query, its DuckDB oracle and ``tests/test_fasta.py``).  It is
a pure function of the seeds below and exercises every branch of the FASTA
reader: a header line, ragged wrapped sequence lines, a later ``>`` line
(sequence bytes under the reader's semantics) and a dozen byte-range chunks
at ``chunk_bytes=256``.  The probe file holds seeded random k-mers, one per
line, for the false-positive-rate check.

    python scripts/make_fasta_fixture.py
"""

from __future__ import annotations

import os
import pathlib
import sys

import numpy as np

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

from test_fasta import (  # noqa: E402
    FIXTURE_BYTES,
    FIXTURE_IDENT,
    FIXTURE_SEED,
    FNA,
    K,
    N_RANDOM_KMERS,
    RANDOM_KMERS,
    _synth_fna,
)

PROBE_SEED = 10


def random_kmers(n: int, k: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    return ["".join("ACGT"[i] for i in row) for row in rng.integers(0, 4, (n, k))]


def main() -> None:
    os.makedirs(os.path.dirname(FNA), exist_ok=True)
    _synth_fna(pathlib.Path(FNA), n_bytes=FIXTURE_BYTES, seed=FIXTURE_SEED,
               multi_record=True, ident=FIXTURE_IDENT)
    pathlib.Path(RANDOM_KMERS).write_text(
        "\n".join(random_kmers(N_RANDOM_KMERS, K, PROBE_SEED)) + "\n")
    print(FNA, RANDOM_KMERS)


if __name__ == "__main__":
    main()
