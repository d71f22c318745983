"""Seeded input generators for the benchmark workloads.

Every input derives from the ``--seed`` argument alone: the same seed gives
identical inputs. Ground truth (which typo came from which name) is
returned next to the input and is only used to check outputs. The code
corpora come from the library's own seeded generator,
``polyfuzz_spark.sources.corpus.generate_corpus``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_HEADS = (
    "acme apex arrow atlas aurora beacon blue bright cedar cobalt condor "
    "crest delta eagle ember falcon frontier galaxy granite harbor horizon "
    "iron jade keystone lake liberty lumen maple meridian summit nova oak "
    "orbit pacific pinnacle polar prairie quantum raven redwood river "
    "sierra silver solar spruce sterling stone sun titan trinity unity "
    "valley vertex vista willow zenith"
).split()
_CORES = (
    "analytics bakery biotech builders capital chemicals consulting data "
    "dental design dynamics electric energy engineering foods freight "
    "games health hotels imaging insurance labs logistics machines marine "
    "media metals mining motors networks optics pharma plastics power "
    "realty robotics security software steel systems telecom textiles "
    "tools travel"
).split()
_TAILS = (
    "inc", "llc", "ltd", "gmbh", "corp", "co", "group", "holdings", "sa",
    "ag", "plc", "partners",
)
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def company_names(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct company-like names, e.g. ``"cobalt freight gmbh"``."""
    space = len(_HEADS) * len(_CORES) * len(_TAILS)
    if n > space:
        raise ValueError(f"at most {space} distinct names")
    codes = rng.choice(space, size=n, replace=False)
    out = []
    for c in codes.tolist():
        h, rest = divmod(c, len(_CORES) * len(_TAILS))
        k, t = divmod(rest, len(_TAILS))
        out.append(f"{_HEADS[h]} {_CORES[k]} {_TAILS[t]}")
    return out


def typo(rng: np.random.Generator, s: str, n_edits: int) -> str:
    """``s`` with ``n_edits`` random substitutions, deletions, insertions or
    adjacent swaps; never returns ``s`` itself."""
    out = s
    while out == s:
        chars = list(s)
        for _ in range(n_edits):
            i = int(rng.integers(0, len(chars)))
            kind = int(rng.integers(0, 4))
            if kind == 0:
                chars[i] = str(rng.choice(_LETTERS))
            elif kind == 1 and len(chars) > 4:
                del chars[i]
            elif kind == 2:
                chars.insert(i, str(rng.choice(_LETTERS)))
            elif i + 1 < len(chars):
                chars[i], chars[i + 1] = chars[i + 1], chars[i]
        out = "".join(chars)
    return out


def name_lists(seed: int, n_to: int, n_from: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(to, from) tables of ``(doc_id, key)``; ``from`` also carries
    ``source_id``, the ``to`` row each planted typo was made from."""
    rng = np.random.default_rng([seed, 1])
    to = company_names(rng, n_to)
    src = rng.integers(0, n_to, size=n_from)
    edits = rng.integers(1, 3, size=n_from)
    frm = [typo(rng, to[s], int(e)) for s, e in zip(src.tolist(), edits.tolist())]
    to_df = pd.DataFrame({"doc_id": np.arange(n_to, dtype=np.int64), "key": to})
    from_df = pd.DataFrame({
        "doc_id": np.arange(n_from, dtype=np.int64),
        "key": frm,
        "source_id": src.astype(np.int64),
    })
    return to_df, from_df

