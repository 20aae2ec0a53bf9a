"""Output checks for the benchmark, run after the timed region.

ingest: every generated message must come back exactly once, from each
path, with the `subject`, `from`, `date_string` and `body` the truth file
states — the batch path through its stage-1 CSV output, the stream path
through SnapshotTable.read, and the format chain alone
(GmailPipeline.formatMessages over the whole corpus, once a run) through
its JSON dump. query_mix: each query's result must equal its
SparkEntry.oracleSql answer in DuckDB, as tools/check.py compares them.

Every failing message or query counts as a failed operation. Failures
that match a known defect are labelled with it (KNOWN); any other failure
makes the run incorrect.
"""
import collections
import glob
import json
import os
import re
import subprocess
import sys

from corpus import SCHEMA_PARTS_DEPTH, java_trim, read_truth

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Known defects of the baseline. Findings 1-3 show on every seed (3 through
# the format dump, which holds every message); finding 4 only when one of
# the few messages the batch path delivers has outer whitespace. A failure
# is only labelled with one when its evidence matches; the message still
# counts as failed.
KNOWN = {
    "finding1_one_message_per_raw_file":
        "extract writes raw JSON lines; transformLoadRaw reads them in "
        "multiLine mode and keeps the first message of each file",
    "finding2_snapshot_read_stack_overflow":
        "SnapshotTable.read (and .snapshot) overflow the stack in the "
        "manifest-list regex on long string min/max stats",
    "finding3_deep_parts_dropped":
        "body chunks nested deeper than GmailSchema.PartsDepth are lost",
    "finding4_csv_trims_whitespace":
        "the stage-1 CSV writer drops leading and trailing whitespace of a "
        "value (Spark's ignore*WhiteSpaceInWrite defaults)",
}
FIELDS = ("subject", "from", "date_string", "body")


def _field_reason(path, k, got, t):
    """None when `got` is the truth's value of field k, else the reason."""
    want = t[k]
    if got == want:
        return None
    csv = path == "batch" and want is not None
    if k == "body" and t["depth"] > SCHEMA_PARTS_DEPTH:
        shallow = t["body_shallow"]
        if got == shallow or (csv and got == java_trim(shallow)):
            return "finding3_deep_parts_dropped"
    if csv and java_trim(want) != want and got == java_trim(want):
        return "finding4_csv_trims_whitespace"
    return k


def _rows(check_dir):
    for p in sorted(glob.glob(os.path.join(check_dir, "part-*.json"))):
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def _verdict(attempted, reasons, examples):
    failed = sum(reasons.values())
    unexpected = sum(n for r, n in reasons.items() if r not in KNOWN)
    return {"attempted": attempted, "failed": failed,
            "unexpected": unexpected, "reasons": dict(reasons),
            "examples": examples[:10], "known": {k: KNOWN[k] for k in reasons
                                                 if k in KNOWN}}


def _stack_overflow_in_regex(res, i):
    """Both the manifest-list parse and the read threw StackOverflowError,
    and the recorded frames are java.util.regex recursion (with the
    String/Character calls it makes)."""
    errs = [e for e in res["errors"]
            if e.startswith((f"r{i} read-back:", f"r{i} read-plan:"))]
    frames = res.get(f"r{i}_read_error_frames", [])
    return (len(errs) == 2 and all("StackOverflowError" in e for e in errs)
            and any(f.startswith("java.util.regex.") for f in frames)
            and all(f.startswith(("java.util.regex.", "java.lang."))
                    for f in frames))


def _check_path(path, truth, got, readback_failed, days, res, i):
    """Reasons for every message of one path in round i."""
    reasons, examples = collections.Counter(), []
    for t in truth:
        rows = got.get(t["id"], [])
        reason = None
        if readback_failed:
            reason = ("finding2_snapshot_read_stack_overflow"
                      if path == "stream" and _stack_overflow_in_regex(res, i)
                      else f"{path}_read_back_error")
        elif not rows:
            d = days.get((i, t["day"]))
            one_per_file = (path == "batch" and d is not None
                            and d["rows"] == d["blobs"] < d["new"])
            reason = ("finding1_one_message_per_raw_file" if one_per_file
                      else "missing")
        elif len(rows) > 1:
            reason = "duplicate"
        else:
            row = rows[0]
            reason = next((r for r in (_field_reason(path, k, row.get(k), t)
                                       for k in FIELDS) if r), None)
            if reason and reason not in KNOWN and len(examples) < 10:
                examples.append({"path": path, "id": t["id"],
                                 "reason": reason, "got": row.get(reason),
                                 "want": t[reason]})
        if reason:
            reasons[reason] += 1
    ids = {t["id"] for t in truth}
    extra = sum(len(v) for k, v in got.items() if k not in ids)
    if extra:
        reasons["unknown_id"] += extra
    return reasons, examples


def check_ingest(res, corpus_dir):
    truth = read_truth(corpus_dir)
    days = {(d["round"], d["day"]): d for d in res.get("day_stats", [])}
    reasons, examples = collections.Counter(), []
    dumps = [(path, i, os.path.join(res["work"], f"r{i}", path, "check"))
             for i in range(len(res["rounds"])) for path in ("batch", "stream")]
    dumps.append(("format", None, os.path.join(res["work"], "format", "check")))
    for path, i, check_dir in dumps:
        got = collections.defaultdict(list)
        if os.path.isdir(check_dir):
            for row in _rows(check_dir):
                got[row.get("id")].append(row)
        r, ex = _check_path(path, truth, got, not os.path.isdir(check_dir),
                            days, res, i)
        reasons.update(r)
        examples += ex
    return _verdict(len(truth) * len(dumps), reasons, examples)


def check_queries(res):
    """Runs the repo's oracle compare, tools/check.py, on the dumps: a FAIL
    line names a query whose result differs from its oracle answer."""
    with open(os.path.join(res["dump_dir"], "oracle_sql.json")) as f:
        oracle = json.load(f)
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"),
         res["sf_dir"], res["dump_dir"]],
        capture_output=True, text=True, timeout=120)
    fails = [ln for ln in p.stdout.splitlines() if ln.startswith("FAIL ")]
    mismatched = {ln.split()[1].rstrip(":") for ln in fails}
    finished = re.search(r"^\d+/\d+ queries match$", p.stdout, re.M)
    bad = {q: "error" for q in res["failed_queries"]}
    for q in res["queries"]:
        if q in bad:
            continue
        if q not in oracle:
            bad[q] = "no_oracle"
        elif not finished:  # the compare itself broke
            bad[q] = "check_error"
        elif q in mismatched:
            bad[q] = "oracle_mismatch"
    passes = len(res["rounds"])
    reasons = collections.Counter()
    for r in bad.values():
        reasons[r] += passes
    examples = fails or ([p.stderr[-500:]] if not finished else [])
    return _verdict(len(res["queries"]) * passes, reasons,
                    [{"query": q, "reason": r} for q, r in bad.items()]
                    + [{"check.py": e} for e in examples])


def layer_counts(verdict):
    """The checks' own figures, reported with the per-layer metrics."""
    r = verdict["reasons"]
    return {
        "checks.failed_share": verdict["failed"] / verdict["attempted"],
        "checks.unexpected": verdict["unexpected"],
        "checks.finding1": r.get("finding1_one_message_per_raw_file", 0),
        "checks.finding2": r.get("finding2_snapshot_read_stack_overflow", 0),
        "checks.finding3": r.get("finding3_deep_parts_dropped", 0),
        "checks.finding4": r.get("finding4_csv_trims_whitespace", 0),
    }
