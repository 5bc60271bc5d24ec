"""Builds the `etl-scan` input: a token-bijective xR replica of a fixture.

Copy i of every scaled table shifts each id column by i * offset, and the
offset comes from the seed. Every column that joins to another scaled
table is shifted by the same offset, so copy i of `lineitem` joins to copy
i of `orders`, `part` and `supplier`, and copy i of `orders` to copy i of
`customer`. `region` and `nation` are fixed-size dimensions and are not
copied; the nation keys stay as they are. Values are kept unchanged.

The text of copies 1..R-1 has every token prefixed with a tag of letters
(the cleaners strip digits, so a digit tag would collapse the copies back
into exact duplicates). A prefix is a bijection on tokens: within a copy
every shingle set and Jaccard score is kept, and across copies the token
sets are disjoint, so the replica is R independent copies and no query
finds duplicates between them. Copy 0 is the fixture unchanged.
"""
import os
import random
import shutil

# table -> the id columns shifted per copy (join keys move together)
SCALED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED = ["region", "nation"]
KEEP = 3  # replicas kept under the root, so disk use stays bounded


def copy_plan(r, seed):
    """(id offset, [tag of copy 1..r-1]) for a seed. Ids in the fixtures are
    below 10^8, so any offset of at least 10^8 keeps the copies disjoint."""
    rng = random.Random(seed)
    offset = 100_000_000 * rng.randint(1, 9)
    letters = "abcdefghijklmnopqrstuvwxyz"
    tags = set()
    while len(tags) < r - 1:
        tags.add("z" + "".join(rng.choice(letters) for _ in range(2)))
    return offset, sorted(tags)


def build(fixture, root, r, seed):
    """Writes the replica under `root` (reused if already complete) and
    returns its directory. Keeps the KEEP most recent replicas."""
    import duckdb
    name = f"x{r}-s{seed}"
    out = os.path.join(root, name)
    done = os.path.join(out, "_complete")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    offset, tags = copy_plan(r, seed)
    con = duckdb.connect(config={"threads": os.cpu_count() or 4,
                                 "temp_directory": os.path.join(out, "_tmp")})
    for t in FIXED:
        shutil.copy(os.path.join(fixture, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
    for t, keys in SCALED.items():
        src = os.path.join(fixture, f"{t}.parquet")
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        copies = []
        for i in range(r):
            sel = []
            for c in cols:
                if c in keys and i > 0:
                    sel.append(f"{c} + {i * offset} AS {c}")
                elif c == "text" and i > 0:
                    sel.append(f"regexp_replace(text, '([A-Za-z0-9]+)', '{tags[i - 1]}\\1', 'g') AS text")
                else:
                    sel.append(c)
            copies.append(f"SELECT {', '.join(sel)} FROM '{src}'")
        # each fixture file is one row group; the replica keeps that layout
        # per copy, so it is R row groups of the fixture's size
        rows = con.execute(f"SELECT COUNT(*) FROM '{src}'").fetchone()[0]
        con.execute(f"COPY ({' UNION ALL '.join(copies)}) TO "
                    f"'{os.path.join(out, t + '.parquet')}' "
                    f"(FORMAT PARQUET, ROW_GROUP_SIZE {max(rows, 2048)})")
    con.close()
    shutil.rmtree(os.path.join(out, "_tmp"), ignore_errors=True)
    open(done, "w").close()
    others = sorted((d for d in os.listdir(root) if d != name),
                    key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in others[:max(0, len(others) - (KEEP - 1))]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return out
