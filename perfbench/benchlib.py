"""Pure arithmetic and output checks of the benchmark (no I/O, no Spark).

Kept apart from run.py so tests/test_benchlib.py can exercise each rule on
hand-made inputs.
"""
import math
import random
import re
import statistics

# Percentile levels tried, highest first.
LEVELS = (99.9, 99, 95, 90, 75, 50)


def percentile(values, level):
    """Nearest-rank percentile: the smallest value with at least `level`% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(level / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(values, min_beyond=10):
    """The highest level in LEVELS that has at least `min_beyond` samples
    above its rank, as (level, value, sample count); None when even the
    median has fewer than `min_beyond` samples beyond it."""
    n = len(values)
    for level in LEVELS:
        rank = max(1, math.ceil(level / 100.0 * n))
        if n - rank >= min_beyond:
            return level, percentile(values, level), n
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of [start, end] its children cover.
    Children may overlap each other and stick out of the parent."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def query_sample(costs, seed, count):
    """The `count` queries a run times, in a seeded order.

    `costs` maps every pooled query to its recorded seconds. The queries are
    ranked by cost and cut into `count` groups of neighbours, and the middle
    query of each group is taken, so the sample spans the registry's cost
    range and is the same for every seed; the seed shuffles the order in
    which they run.
    """
    ranked = sorted(costs, key=lambda q: (costs[q], q))
    n = len(ranked)
    sample = [ranked[(i * n // count + (i + 1) * n // count) // 2] for i in range(count)]
    random.Random(seed).shuffle(sample)
    return sample


# ---------------------------------------------------------------- checks

def check_query(result, expected):
    """Problems with one registry query against the recorded values."""
    name = result["name"]
    if not result.get("ok"):
        return ["%s: failed: %s" % (name, result.get("error", "?"))]
    want = expected.get(name)
    if want is None:
        return ["%s: no recorded values" % name]
    problems = []
    if result.get("rows") != want["rows"]:
        problems.append("%s: %s rows, recorded %s" % (name, result.get("rows"), want["rows"]))
    if result.get("schema") != want["schema"]:
        problems.append("%s: schema %s, recorded %s" % (name, result.get("schema"), want["schema"]))
    return problems


def file_names(table, rows, rows_per_file):
    """Expected `{table}_{i*rpf}_{(i+1)*rpf}_zstd.parquet` names, in order."""
    n = -(-rows // rows_per_file)
    return ["%s_%d_%d_zstd.parquet" % (table, i * rows_per_file, (i + 1) * rows_per_file)
            for i in range(n)]


def check_table(table, source, files, listed, manifest_keys):
    """Problems with one exported table of one round.

    source: {"rows", "digest", "rows_per_file"} of Normalize(PgWire.scan).
    files: {file name: {"rows", "min_key", "max_key", "digest"}} read back.
    listed: parquet file names of this table found in the round directory.
    manifest_keys: the table's object keys in manifest.json (None if absent).
    """
    rpf = source["rows_per_file"]
    names = file_names(table, source["rows"], rpf)
    problems = []
    if sorted(listed) != sorted(names):
        problems.append("%s: files %s, expected %s" % (table, sorted(listed), names))
    if manifest_keys != ["%s/%s" % (table, n) for n in names]:
        problems.append("%s: manifest keys %s" % (table, manifest_keys))
    prev_max = None
    for i, name in enumerate(names):
        f = files.get(name)
        if f is None:
            problems.append("%s: %s not read back" % (table, name))
            continue
        last = i == len(names) - 1
        if (not last and f["rows"] != rpf) or (last and not 1 <= f["rows"] <= rpf):
            problems.append("%s: %s holds %d rows (rows per file %d)" % (table, name, f["rows"], rpf))
        if f["min_key"] > f["max_key"] or (prev_max is not None and f["min_key"] <= prev_max):
            problems.append("%s: order keys of %s do not ascend across files" % (table, name))
        prev_max = f["max_key"]
    rows = sum(f["rows"] for f in files.values())
    digest = sum(int(f["digest"]) for f in files.values())
    if rows != source["rows"] or digest != int(source["digest"]):
        problems.append("%s: read back %d rows with digest %d, source has %d rows with digest %s"
                        % (table, rows, digest, source["rows"], source["digest"]))
    return problems


PARQUET = re.compile(r"^(.*)_\d+_\d+_zstd\.parquet$")


def median(xs):
    return statistics.median(xs) if xs else 0.0
