"""Open-loop click generator: a process of its own.

Rebuilds the seeded click log and writes the live files into the
stream directory on a fixed schedule (file ``i`` is due at
``start + i / rate``), never slowing when the engine slows.  Prints the
emission log (index, due, written; ``time.monotonic`` seconds, which is
one clock for every process on the host) as JSON on stdout.

    python3 clickgen.py '<json spec>'
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def main(spec: dict) -> list[dict]:
    log = datagen.click_log(spec["seed"], **spec["log"])
    first = log.backlog_files
    emitted = []
    for k, clicks in enumerate(log.files[first:]):
        due = spec["start"] + k / spec["rate"]
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        datagen.write_click_file(spec["dir"], first + k, clicks)
        emitted.append(
            {"index": first + k, "due": due, "written": time.monotonic()}
        )
    return emitted


if __name__ == "__main__":
    print(json.dumps(main(json.loads(sys.argv[1]))))
