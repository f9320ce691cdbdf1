#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/diff_verify_outputs.py <parentOut> <changeOut>

For every query directory (q*) in either dump it compares the column names
and their order, the column types (Arrow types, nullability ignored) and the
rows, sorted, exactly (floats by their shortest round-trip repr). Rows-only
queries (no oracle) are compared like the others. Prints one line per query
and a last line with the totals; exits 1 if any query differs.
"""
import glob, json, os, sys
import pyarrow as pa
import pyarrow.parquet as pq


def load(qdir):
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")


def rows(table):
    cols = table.column_names
    return sorted(json.dumps([r[c] for c in cols], default=repr) for r in table.to_pylist())


def compare(a, b):
    """(status, detail) for one query's two tables."""
    if a is None and b is None:
        return "SAME", "no part files on either side"
    if a is None or b is None:
        return "EMPTY", f"parent has {'no' if a is None else 'a'} table, change has {'no' if b is None else 'a'} table"
    if a.column_names != b.column_names:
        return "COLUMNS", f"parent={a.column_names} change={b.column_names}"
    ta = [str(f.type) for f in a.schema]
    tb = [str(f.type) for f in b.schema]
    if ta != tb:
        diffs = [f"{c}: {x} -> {y}" for c, x, y in zip(a.column_names, ta, tb) if x != y]
        return "TYPES", "; ".join(diffs)
    if a.num_rows != b.num_rows:
        return "ROWS", f"parent={a.num_rows} change={b.num_rows}"
    ra, rb = rows(a), rows(b)
    if ra != rb:
        n = sum(1 for x, y in zip(ra, rb) if x != y)
        first = next(((x, y) for x, y in zip(ra, rb) if x != y))
        return "VALUES", f"{n} of {len(ra)} sorted rows differ; first: parent {first[0]} change {first[1]}"
    return "SAME", f"{a.num_rows} rows"


def main(parent, change):
    names = sorted({os.path.basename(d) for out in (parent, change)
                    for d in glob.glob(os.path.join(out, "q*")) if os.path.isdir(d)})
    n_same = 0
    for name in names:
        pa_dir, ch_dir = os.path.join(parent, name), os.path.join(change, name)
        if not (os.path.isdir(pa_dir) and os.path.isdir(ch_dir)):
            status, detail = "MISSING", f"only in {'parent' if os.path.isdir(pa_dir) else 'change'}"
        else:
            try:
                status, detail = compare(load(pa_dir), load(ch_dir))
            except Exception as e:  # unreadable output counts as a difference
                status, detail = "ERROR", str(e)
        n_same += status == "SAME"
        print(f"{status:8} {name}: {detail}")
    print(f"\n{n_same} identical / {len(names) - n_same} differ ({len(names)} queries)")
    return 0 if n_same == len(names) else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
