"""Seeded change delta for the incremental workload. The program under test
sees only the rows `apply_delta` returns.

`apply_delta` is a pure function of its arguments (``random.Random(seed)``,
no clock, no global state), so the same seed gives a byte-identical frame.
"""

from __future__ import annotations

import hashlib
import random
import pandas as pd

from graph_rag_agent_spark.sources.corpus import CORPUS_COLUMNS

# syllables and roles for the names of the classes a delta adds: an open
# vocabulary, so an added class is a new entity rather than a known one
_SYLLABLES = [
    "ab", "ar", "bel", "bor", "cal", "cor", "dan", "del", "ex", "fen", "fir",
    "gal", "gor", "hal", "hex", "ith", "jor", "kal", "kor", "lam", "lun",
    "mar", "mor", "nel", "nox", "ol", "pax", "pel", "quin", "ral", "ron",
    "sal", "sor", "tal", "tor", "ul", "vak", "vel", "wyn", "xan", "yor",
    "zel", "zun", "bri", "cra", "dro", "fla", "gri",
]
_VERBS = ["load", "emit", "scan", "merge", "split", "route", "fold", "probe",
          "index", "flush", "pack", "trace"]
_ROLES = ["Router", "Store", "Codec", "Planner", "Walker", "Buffer", "Shard",
          "Ledger", "Agent", "Probe"]


def _stem(rng: random.Random) -> str:
    return "".join(rng.choice(_SYLLABLES).capitalize() for _ in range(rng.randint(2, 3)))


def _snake(camel: str) -> str:
    out = [camel[0].lower()]
    for ch in camel[1:]:
        out.append("_" + ch.lower() if ch.isupper() else ch)
    return "".join(out)


def _delta_class(rng: random.Random, tag: str) -> str:
    cls = _stem(rng) + rng.choice(_ROLES) + tag
    fn = f"{rng.choice(_VERBS)}_{_snake(cls)}"
    return (
        f"class {cls}({rng.choice(_ROLES)}):\n"
        f"    def {fn}(self, arg):\n"
        f"        return {fn}(arg)\n"
    )


# shares of the corpus a delta modifies, adds and deletes
MODIFIED, ADDED, DELETED = 0.05, 0.02, 0.01


def apply_delta(corpus: pd.DataFrame, seed: int) -> pd.DataFrame:
    """The corpus after one round of edits: a MODIFIED share of files get a
    new class appended (so the graph gains entities and edges), an ADDED
    share of new files appear, and a DELETED share disappear. Row order of
    surviving files is kept; added files come last.

    The largest file is never picked: the code corpus holds one file of
    more than 400k characters, and a delta that happened to hit it would
    cost several times more than one that did not, so the cost of a delta
    would depend on the seed rather than on the program."""
    rng = random.Random(seed)
    n = len(corpus)
    largest = int(corpus["content"].fillna("").str.len().idxmax())
    candidates = [i for i in range(n) if i != largest]
    picks = rng.sample(candidates, k=round(n * (MODIFIED + DELETED)))
    n_del = round(n * DELETED)
    gone, changed = set(picks[:n_del]), set(picks[n_del:])
    rows = []
    for i, row in enumerate(corpus.to_dict("records")):
        if i in gone:
            continue
        if i in changed:
            row = dict(row, content=(row["content"] or "") + "\n\n" + _delta_class(rng, f"D{i}"))
        rows.append(row)
    for j in range(round(n * ADDED)):
        repo = corpus["repo"].iloc[rng.randrange(n)]
        path = f"src/delta/new{j}.py"
        module = _snake(_stem(rng))
        rows.append({
            "repo": repo, "path": path,
            "commit": hashlib.sha1(f"{repo}:{path}".encode()).hexdigest(),
            "lang": "py",
            "content": f'"""Module {module}。"""\n\n' + _delta_class(rng, f"N{j}"),
        })
    return pd.DataFrame(rows, columns=CORPUS_COLUMNS)
