"""Seeded inputs for the graft benchmark.

Each seed's input directory is the reference test data in
``perfbench/data/<profile>`` (the tables graft's test suite reads) with
every key column shifted by one seed-derived offset, the one-replica case
of graft's ``tools.ScaleUp`` key shift. Sizes, text, vectors and the
shape of every join stay those of the reference data; every hash-driven
choice in graft (dictionary buckets, minibatch and held-out slices,
negatives, ANN queries, decontamination slice) moves with the seed. Beside
the tables goes an N-Triples dump of the knowledge graph they imply.

    python3 perfbench/gen.py <out_dir> <profile> <seed>
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# Key columns per table, as in tools.ScaleUp.
SHIFTS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "nation": [],
    "region": [],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# ScaleUp's replica stride. Offsets run from 100 to 999 strides, so every
# shifted key has ten digits on every seed and string sizes stay put.
STRIDE = 10_000_000
DUMP = "graph.nt"


def offset(seed):
    return STRIDE * (100 + seed % 900)


def generate(out, profile, seed):
    src = os.path.join(DATA, profile)
    os.makedirs(out, exist_ok=True)
    off = pa.scalar(offset(seed), pa.int64())
    t = {}
    for name, keys in SHIFTS.items():
        tab = pq.read_table(os.path.join(src, name + ".parquet"))
        for k in keys:
            i = tab.schema.get_field_index(k)
            tab = tab.set_column(i, k, pc.add(tab.column(k), off))
        pq.write_table(tab, os.path.join(out, name + ".parquet"),
                       row_group_size=1 << 30)
        t[name] = tab

    def col(name, c):
        return t[name].column(c).to_pylist()

    def nt(s, p, o):
        return f"<urn:g/r/{s}> <urn:g/p/{p}> <urn:g/r/{o}> .\n"

    # The facts the tables imply (graft's triples view), in table order
    # with repeats (an order can list a part twice), after a comment line
    # the parser must skip.
    with open(os.path.join(out, DUMP), "w") as f:
        f.write("# graft benchmark dump\n")
        for table, sk, sp, p, ok, op in [
                ("customer", "c_custkey", "c", "inNation", "c_nationkey", "n"),
                ("supplier", "s_suppkey", "s", "inNation", "s_nationkey", "n"),
                ("nation", "n_nationkey", "n", "inRegion", "n_regionkey", "r"),
                ("orders", "o_orderkey", "o", "placedBy", "o_custkey", "c"),
                ("lineitem", "l_orderkey", "o", "hasPart", "l_partkey", "p"),
                ("lineitem", "l_orderkey", "o", "suppliedBy", "l_suppkey", "s")]:
            f.writelines(nt(f"{sp}:{s}", p, f"{op}:{o}")
                         for s, o in zip(col(table, sk), col(table, ok)))


def ensure(root, profile, seed):
    """The generated directory for (profile, seed), made once."""
    out = os.path.join(root, f"{profile}-seed{seed}")
    done = os.path.join(out, "_COMPLETE")
    if not os.path.exists(done):
        generate(out, profile, seed)
        open(done, "w").close()
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], sys.argv[2], int(sys.argv[3])))
