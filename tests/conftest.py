from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from thuvienphapluat_crawler_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tvpl-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def mutants():
    """Seeded damage to a valid encoded blob, for the codec fuzz tests:
    cycles truncation, 1-4 bit flips and a random 32-bit overwrite,
    yielding `n` damaged copies."""

    def gen(blob: bytes, seed: int, n: int = 1000):
        rng = random.Random(seed)
        for case in range(n):
            data = bytearray(blob)
            kind = case % 3
            if kind == 0:
                data = data[: rng.randrange(len(data))]
            elif kind == 1:
                for _ in range(rng.randint(1, 4)):
                    data[rng.randrange(len(data))] ^= 1 << rng.randrange(8)
            else:
                at = rng.randrange(len(data) - 3)
                data[at : at + 4] = rng.getrandbits(32).to_bytes(4, "little")
            yield bytes(data)

    return gen
