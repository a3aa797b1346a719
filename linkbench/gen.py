"""Seeded source-code-repository table for the link-graph benchmark.

The table has the engine's input shape ``(repo, path, commit, lang,
content)`` and is generated here, apart from the program, so that a
change to the program cannot change the benchmark's input.  Next to the
rows the generator returns what it planted: the import edges (by
``repo:path`` key) and the shared-content groups.  The checks compare
the program's edge table against that plant.

What a table holds:

- base repos in one of four languages, each with a run of own files
  ``src/m<k>.<ext>``; file k imports one to three of the four files
  before it (so import triples close triangles) and sometimes an
  external module that no repo has (an import that must not resolve);
- fork families: a base repo copied by up to seven forks.  A file no
  fork edited is one content group of at most eight copies, which the
  engine turns into a clique;
- vendored files ``src/vendor_<k>.<ext>`` copied verbatim into many
  repos of one language and imported by some of their files.  These
  groups have more than eight members, so the engine makes them stars;
- ``hub_repos`` thin repos that hold nothing but vendored file 0, which
  makes that file's group the hub of the ``vendored_hub`` workload.

The mix is synthetic: its proportions (fork and vendoring rates, files
and imports per repo, body length) are chosen to reach the engine's code
paths within the run budget, not taken from a measured corpus.  File
bodies are code-like lines, 200 to 660 bytes and about 420 on average
at ``body_lines=10``, while real source files run to several KB;
per-byte ingest work (sha256, the per-line import regex) is therefore
light next to per-row work.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

LANGS = ("py", "cc", "java", "go")
# the four import-line forms the engine's ingest parses, one per language
IMPORT_FMT = {
    "py": "import {}",
    "cc": '#include "{}.h"',
    "java": "import pkg.{};",
    "go": 'import "pkg/{}"',
}

SHAPE_SEED = 20261019

_WORDS = (
    "alpha beta gamma delta index value count total buffer reader writer "
    "node edge graph table batch chunk offset limit cursor token parse emit"
).split()


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's table (see ``generate`` for the seeds)."""

    base_repos: int
    files_lo: int  # own files per base repo, inclusive range
    files_hi: int
    fork_share: float  # share of base repos that have forks
    forks_max: int  # forks per forked repo: 1..forks_max (<= 7 keeps groups <= 8)
    vendored: int  # vendored files per language
    vendored_share: float  # share of a language's base repos that carry one
    hub_repos: int  # thin repos holding only vendored file 0 of "py"
    body_lines: int  # mean code lines per body


@dataclass
class Table:
    """The generated rows plus the planted truth."""

    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]
    imports: list[tuple[int, int]]  # planted import edges, row index -> row index
    groups: list[list[int]]  # planted shared-content groups (row indices), size >= 2

    def keys(self) -> list[str]:
        return [f"{r}:{p}" for r, p in zip(self.repo, self.path)]


def _bodies(rng: np.random.Generator, n_blocks: int, mean_lines: int) -> list[str]:
    """A pool of code-like text blocks; no line looks like an import."""
    out = []
    for _ in range(n_blocks):
        lines = []
        for j in range(int(rng.integers(mean_lines // 2, mean_lines * 3 // 2 + 1))):
            a, b, c = (_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), 3))
            lines.append(f"    {a}_{j} = {b}({c}, {int(rng.integers(0, 1 << 20))})")
        out.append("\n".join(lines))
    return out


def generate(spec: Spec, seed: int) -> Table:
    """The graph's shape (repos, files, imports, forks, vendored copies)
    is drawn from ``SHAPE_SEED``; ``seed`` draws what lies on it: file
    bodies, commit ids and the row order.  Every seed thus gives the same
    graph up to content, so the supersteps an operator needs do not
    change with the seed."""
    shape = np.random.default_rng(SHAPE_SEED)
    rng = np.random.default_rng(seed)
    blocks = _bodies(rng, 256, spec.body_lines)
    t = Table([], [], [], [], [], [], [])
    group_of: dict[str, list[int]] = {}  # content -> row indices

    def add(repo: str, commit: str, lang: str, stem: str, content: str) -> int:
        t.repo.append(repo)
        t.path.append(f"src/{stem}.{lang}")  # the extension is the language name
        t.commit.append(commit)
        t.lang.append(lang)
        t.content.append(content)
        group_of.setdefault(content, []).append(len(t.repo) - 1)
        return len(t.repo) - 1

    def body(stem: str, imports: list[str], lang: str) -> str:
        tag = rng.bytes(12).hex()
        lines = [f"// {stem} {tag}"]
        lines += [IMPORT_FMT[lang].format(s) for s in imports]
        lines.append(blocks[int(rng.integers(0, len(blocks)))])
        return "\n".join(lines) + "\n"

    def commit_id() -> str:
        return rng.bytes(20).hex()

    # vendored file contents, per language
    vendored = {
        lang: [body(f"vendor_{k}", [], lang) for k in range(spec.vendored)] for lang in LANGS
    }

    for r in range(spec.base_repos):
        lang = LANGS[int(shape.integers(0, 4))]
        name = f"org{int(shape.integers(0, 500)):03d}/repo{r:06d}"
        n_own = int(shape.integers(spec.files_lo, spec.files_hi + 1))
        carried = [
            k for k in range(spec.vendored) if shape.random() < spec.vendored_share
        ]
        # the plant of one repo: stem -> (content, imported stems)
        files: list[tuple[str, str, list[str]]] = []
        for k in carried:
            files.append((f"vendor_{k}", vendored[lang][k], []))
        for k in range(n_own):
            lo = max(0, k - 4)
            cands = list(range(lo, k))
            take = min(len(cands), int(shape.integers(1, 4)))
            imp = [f"m{c}" for c in shape.choice(cands, size=take, replace=False)] if take else []
            if carried and shape.random() < 0.3:
                imp.append(f"vendor_{carried[int(shape.integers(0, len(carried)))]}")
            ext_imports = [f"ext_{int(shape.integers(0, 50))}"] if shape.random() < 0.3 else []
            files.append((f"m{k}", body(f"m{k}", imp + ext_imports, lang), imp))

        n_forks = (
            int(shape.integers(1, spec.forks_max + 1)) if shape.random() < spec.fork_share else 0
        )
        for f in range(n_forks + 1):
            repo = name if f == 0 else f"{name}-fork{f}"
            commit = commit_id()
            rows = {}
            for stem, content, _ in files:
                # a fork edits about one own file in five
                if f and not stem.startswith("vendor_") and shape.random() < 0.2:
                    content = content + f"// edited in fork {f}\n"
                rows[stem] = add(repo, commit, lang, stem, content)
            for stem, _, imp in files:
                t.imports.extend((rows[stem], rows[s]) for s in imp)

    py_vendor0 = vendored["py"][0] if spec.vendored else None
    for h in range(spec.hub_repos):
        add(f"thin{h % 1000:03d}/app{h:07d}", commit_id(), "py", "vendor_0", py_vendor0)

    t.groups = [rows for rows in group_of.values() if len(rows) > 1]
    # shuffle the row order so the table is not sorted by repo
    perm = rng.permutation(len(t.repo))
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(perm))
    for col in ("repo", "path", "commit", "lang", "content"):
        vals = getattr(t, col)
        setattr(t, col, [vals[i] for i in perm])
    t.imports = [(int(inv[a]), int(inv[b])) for a, b in t.imports]
    t.groups = [sorted(int(inv[i]) for i in g) for g in t.groups]
    return t


def write_parquet(t: Table, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "repo": pa.array(t.repo, pa.string()),
            "path": pa.array(t.path, pa.string()),
            "commit": pa.array(t.commit, pa.string()),
            "lang": pa.array(t.lang, pa.string()),
            "content": pa.array(t.content, pa.string()),
        }
    )
    pq.write_table(tbl, path, row_group_size=1 << 15)
