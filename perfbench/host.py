"""Host state and process-tree memory, read from /proc (psutil is absent)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the Spark driver JVM and the Python
    workers it forks)."""
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def reset_peak_rss() -> None:
    """Reset every process's peak resident set to its current one, so a
    later reading covers only what ran after this call."""
    for pid in process_tree(os.getpid()):
        try:
            Path(f"/proc/{pid}/clear_refs").write_text("5")
        except (FileNotFoundError, ProcessLookupError):
            continue  # the process ended meanwhile


def tree_peak_rss() -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of every live process in this
    process's tree, keyed by "pid:name"."""
    out = {}
    for pid in process_tree(os.getpid()):
        try:
            status = Path(f"/proc/{pid}/status").read_text().splitlines()
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status if ":" in line)
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def host_state(repo: Path) -> dict:
    """Host-noise probe reading plus core counts, embedded in every run's
    output so a figure can be judged against the host it came from."""
    # in a child process, so the probe's arrays stay out of this process's
    # peak resident set
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, dram_probe; print(json.dumps(dram_probe.probe(iters=4)))"],
        cwd=repo / "tools", capture_output=True, text=True, check=True,
    )
    ts = json.loads(out.stdout)
    return {
        "probe_iters_sec": ts,
        "probe_steady_sec": min(ts),
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
    }
