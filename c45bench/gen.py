"""Seeded input generator for the C4.5 engine benchmark.

Every workload reads one or two parquet tables written here as
`<dir>/<table>.parquet`. The same seed always gives byte-identical files;
a different seed draws different rows and noise from the same planted
concept, so every seed is a fresh sample of one fixed problem and the
engine does about the same work on each.

Columns of every table: three categorical attributes with 4, 8 and 12 values, six
numeric attributes on a 0.01 grid over [0, 100) (10,000 distinct values,
so the engine's 256-bin quantile binning is on), a 4-class `label`
planted from a random depth-6 tree with 5% label noise, and a binary
`blabel` for boosting (a noisy majority of five threshold tests, which
no depth-3 tree represents exactly, so every boosting round keeps
finding structure).

The serve workload also gets two models in the engine's own save format
(`C45Model.save` / `C45Forest.save`): a wide random tree and a forest of
narrow ones, so that serving is measured without any training.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CAT_SIZES = {"c0": 4, "c1": 8, "c2": 12}
CAT_PREFIX = {"c0": "a", "c1": "b", "c2": "d"}
NUM_ATTRS = [f"n{i}" for i in range(6)]
CLASSES = ["L0", "L1", "L2", "L3"]
PLANT_DEPTH = 6
NOISE = 0.05
ROW_GROUP = 65536
# a training table is one file (so the fit's own repartition to the
# session's parallelism runs); the scoring table is several, so the scan
# itself runs on every core
SCORE_FILES = 8
CONCEPT_SEED = 2026
MODEL_SEED = 2027
WORKLOADS = ("deep_tree", "missing", "ensemble", "serve")
# attribute index order of the engine-side schema: categoricals, then
# numerics
ATTRS = list(CAT_SIZES) + NUM_ATTRS
# served models: the wide tree has more leaves than the engine's
# flat-serving threshold (64), so it is served by the routed level walk;
# each forest tree has fewer, so the forest is served by flat CASE WHENs
WIDE_TREE = {"depth": 6, "leaves": 450}
FOREST_TREE = {"depth": 4, "leaves": 40}
FOREST_TREES = 8

# rows per table, per workload; `train` is what the workload fits on,
# `score` the serve workload's scoring table
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "settings.json")) as f:
    ROWS = json.load(f)["rows"]
# the missing workload nulls this share of one numeric and one
# categorical attribute, independently
NULL_FRAC = 0.20
NULL_ATTRS = ("n1", "c1")


def _plant(rng):
    """A random complete depth-PLANT_DEPTH tree of binary tests: each
    internal node tests a numeric attribute against a threshold in
    [20, 80) or a categorical attribute against a random half of its
    values; leaves carry a class."""
    attrs = NUM_ATTRS + list(CAT_SIZES)

    def node(depth):
        if depth == PLANT_DEPTH:
            return ("leaf", CLASSES[int(rng.integers(len(CLASSES)))])
        a = attrs[int(rng.integers(len(attrs)))]
        if a in CAT_SIZES:
            k = CAT_SIZES[a]
            test = ("in", a, frozenset(
                int(v) for v in rng.choice(k, size=k // 2, replace=False)))
        else:
            test = ("le", a, float(rng.integers(2000, 8000)) / 100.0)
        return ("node", test, node(depth + 1), node(depth + 1))

    return node(0)


def _label(tree, cols, n):
    """Evaluate the planted tree on all rows at once."""
    out = np.empty(n, dtype=np.int64)

    def walk(t, idx):
        if idx.size == 0:
            return
        if t[0] == "leaf":
            out[idx] = CLASSES.index(t[1])
            return
        kind, a, arg = t[1]
        v = cols[a][idx]
        left = v <= arg if kind == "le" else np.isin(v, list(arg))
        walk(t[2], idx[left])
        walk(t[3], idx[~left])

    walk(tree, np.arange(n))
    return out


def _blabel(rng, cols, n):
    """Noisy majority of five threshold tests on distinct numeric
    attributes."""
    votes = np.zeros(n, dtype=np.int64)
    for a in rng.choice(NUM_ATTRS, size=5, replace=False):
        votes += cols[str(a)] > float(rng.integers(3000, 7000)) / 100.0
    return votes >= 3


def make_table(seed, workload, table, n):
    """The `table` of `workload` as an Arrow table, a pure function of
    its arguments."""
    # the planted concept is the same for every seed and table
    concept = np.random.default_rng(CONCEPT_SEED)
    tree = _plant(concept)
    rng = np.random.default_rng(
        [seed, 1 + WORKLOADS.index(workload), 1 + ["train", "score"].index(table)])
    codes = {a: rng.integers(k, size=n) for a, k in CAT_SIZES.items()}
    nums = {a: rng.integers(10_000, size=n) / 100.0 for a in NUM_ATTRS}
    cols = {**codes, **nums}
    y = _label(tree, cols, n)
    flip = rng.random(n) < NOISE
    y = np.where(flip, (y + rng.integers(1, len(CLASSES), size=n)) % len(CLASSES), y)
    yb = _blabel(concept, cols, n)
    yb = np.where(rng.random(n) < NOISE, ~yb, yb)

    arrays, names = [], []
    for a, k in CAT_SIZES.items():
        vocab = np.array([f"{CAT_PREFIX[a]}{i}" for i in range(k)], dtype=object)
        arrays.append(pa.array(vocab[codes[a]], type=pa.string()))
        names.append(a)
    for a in NUM_ATTRS:
        arrays.append(pa.array(nums[a], type=pa.float64()))
        names.append(a)
    if workload == "missing":
        for a in NULL_ATTRS:
            i = names.index(a)
            mask = rng.random(n) < NULL_FRAC
            arrays[i] = pa.array(arrays[i].to_numpy(zero_copy_only=False),
                                 mask=mask, type=arrays[i].type)
    arrays.append(pa.array(np.array(CLASSES, dtype=object)[y], type=pa.string()))
    names.append("label")
    arrays.append(pa.array(np.where(yb, "P", "N").astype(object), type=pa.string()))
    names.append("blabel")
    arrays.append(pa.array(np.arange(n, dtype=np.int64)))
    names.append("rid")
    return pa.Table.from_arrays(arrays, names=names)


def make_model(rng, depth, leaves):
    """A random tree in C4.5's shape: each split takes an attribute not
    yet used on its path, with one child per value of a categorical
    attribute or a `<=`/`>` pair on a numeric threshold. Nodes split
    breadth-first until the tree has about `leaves` leaves (a last
    categorical split can overshoot by its arity) or reaches `depth`.
    Returns [(conditions, {class: micros})], conditions being
    [(attr index, encoded split)] as in the engine's rule codec."""
    frontier, done = [[]], []
    while frontier:
        conds = frontier.pop(0)
        used = {a for a, _ in conds}
        free = [i for i in range(len(ATTRS)) if i not in used]
        if len(conds) == depth or not free or len(done) + len(frontier) + 1 >= leaves:
            done.append(conds)
            continue
        a = free[int(rng.integers(len(free)))]
        name = ATTRS[a]
        if name in CAT_SIZES:
            frontier += [conds + [(a, f"{CAT_PREFIX[name]}{v}")] for v in range(CAT_SIZES[name])]
        else:
            b = repr(float(rng.integers(1000, 9000)) / 100.0)
            frontier += [conds + [(a, f"<={b}")], conds + [(a, f">{b}")]]
    out = []
    for conds in done:
        counts = rng.integers(0, 400, size=len(CLASSES)) * rng.integers(0, 2, size=len(CLASSES))
        counts[int(rng.integers(len(CLASSES)))] += 1 + int(rng.integers(400))
        out.append((conds, {c: int(n) * 1_000_000 for c, n in zip(CLASSES, counts) if n > 0}))
    return out


def write_model(leaves, out_dir):
    """The `C45Model.save` layout: `rules.txt` (one encoded leaf rule
    per line, then `:majority`) and a `dist` parquet sidecar of
    (leaf, cls, micros)."""
    os.makedirs(os.path.join(out_dir, "dist"), exist_ok=True)
    total = {c: 0 for c in CLASSES}
    lines, leaf, cls, micros = [], [], [], []
    for i, (conds, dist) in enumerate(leaves):
        label = max(sorted(dist), key=lambda c: dist[c])
        lines.append("&".join(f"{a},{v}" for a, v in conds) + ":" + label)
        for c in sorted(dist):
            total[c] += dist[c]
            leaf.append(i)
            cls.append(c)
            micros.append(dist[c])
    lines.append(":" + max(CLASSES, key=lambda c: total[c]))
    with open(os.path.join(out_dir, "rules.txt"), "w") as f:
        f.write("\n".join(lines))
    pq.write_table(pa.table({"leaf": pa.array(leaf, pa.int32()), "cls": pa.array(cls, pa.string()),
                             "micros": pa.array(micros, pa.int64())}),
                   os.path.join(out_dir, "dist", "part-00000.parquet"))


def generate(seed, workload, out_dir):
    """Write every table of `workload` under `out_dir` (and, for serve,
    its models as `tree/` and `forest/`); returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for table, n in ROWS[workload].items():
        t = make_table(seed, workload, table, n)
        path = os.path.join(out_dir, f"{table}.parquet")
        if table == "train":
            pq.write_table(t, path, row_group_size=ROW_GROUP, compression="snappy")
        else:
            os.makedirs(path)
            step = -(-n // SCORE_FILES)
            for i in range(SCORE_FILES):
                pq.write_table(t.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"),
                               row_group_size=ROW_GROUP, compression="snappy")
        rows[table] = n
    if workload == "serve":
        # the served models are fixed like the concept; the seed draws
        # the rows they score
        rng = np.random.default_rng(MODEL_SEED)
        write_model(make_model(rng, **WIDE_TREE), os.path.join(out_dir, "tree"))
        forest = os.path.join(out_dir, "forest")
        for t in range(FOREST_TREES):
            write_model(make_model(rng, **FOREST_TREE), os.path.join(forest, f"t{t}"))
        with open(os.path.join(forest, "forest.txt"), "w") as f:
            f.write(f"{FOREST_TREES},{MODEL_SEED}")
    return rows
