"""Point → trigger join: the freshness of each point is the time from the
stamp the generator wrote to the commit of the micro-batch that read its
spool file.

Each file stream source keeps its own log of the files it took
(`<checkpoint>/sources/<n>/<id>`, JSON lines after a version line,
compacted every few entries into `<id>.compact`). Its ids count only the
triggers in which that source found new files, so they are not the
query's batch ids: the query's offset log (`<checkpoint>/offsets/<batch>`,
one `{"logOffset": id}` line per source after two header lines) says up to
which source id each batch read. The commit log
(`<checkpoint>/commits/<batch>`) is written when the batch commits, so its
modification time is the commit time."""
import bisect
import json
import os


def _source_ids(checkpoint, src):
    """Spool file name → the source's own log id, for source `src`."""
    out = {}
    d = os.path.join(checkpoint, "sources", src)
    for log in os.listdir(d):
        if log.startswith("."):
            continue
        with open(os.path.join(d, log)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _offsets(checkpoint):
    """Query batch id → the log offset of each source it read up to (-1
    where a source had none yet), in source order."""
    d = os.path.join(checkpoint, "offsets")
    out = {}
    for n in os.listdir(d):
        if n.isdigit():
            with open(os.path.join(d, n)) as f:
                lines = f.read().splitlines()[2:]
            out[int(n)] = [json.loads(x)["logOffset"] if x.startswith("{") else -1 for x in lines]
    return out


def file_batches(checkpoint):
    """Spool file name → id of the query batch that read it."""
    offsets = _offsets(checkpoint)
    batches = sorted(offsets)
    out = {}
    for src in os.listdir(os.path.join(checkpoint, "sources")):
        i = int(src)
        ends = [offsets[b][i] for b in batches]  # non-decreasing
        for name, sid in _source_ids(checkpoint, src).items():
            k = bisect.bisect_left(ends, sid)
            if k < len(batches):
                out[name] = batches[k]
    return out


def commit_times_ms(checkpoint):
    """Batch id → commit time in epoch milliseconds."""
    d = os.path.join(checkpoint, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e6
            for n in os.listdir(d) if n.isdigit()}


def join(files, batch_of, commit_ms, start_ms, end_ms):
    """Latency (ms) of every point stamped in [start_ms, end_ms), one
    entry per point. `files` rows are [src, file, stamp_ms, points]. A
    file that no committed batch read has no latency; the store check
    counts its points as lost."""
    lat = []
    for _src, name, stamp, points in files:
        batch = batch_of.get(name)
        if start_ms <= stamp < end_ms and batch in commit_ms:
            lat.extend([commit_ms[batch] - stamp] * points)
    return lat
