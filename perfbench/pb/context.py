"""Run context read best-effort from /proc: a missing, unreadable or
non-numeric value is recorded as None (JSON null), never as a string
spliced into the document."""
import subprocess


def loadavg_1m(path="/proc/loadavg"):
    try:
        with open(path) as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def cpu_times(path="/proc/stat"):
    """(total jiffies, steal jiffies) of the aggregate cpu line, or None."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("cpu "):
                    fields = [int(x) for x in line.split()[1:]]
                    return sum(fields[:8]), (fields[7] if len(fields) > 7 else 0)
    except (OSError, ValueError):
        return None
    return None


def steal_pct(before, after):
    if before is None or after is None:
        return None
    total = after[0] - before[0]
    if total <= 0:
        return None
    return 100.0 * (after[1] - before[1]) / total


def commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None

