"""S12: config source with validation parity
(Common/common.py:76-146,282-350 semantics, JSON-dict based).

Engine knobs (shuffle partitions, AQE, broadcast threshold) live in
session.py as spark confs; this module validates the *pipeline* config
the way the reference validates its JSON input.
"""

from __future__ import annotations

# Validation constants (reference: common.py:297-313; migration.py:175)
MIN_BATCH_GB = 100          # Batch_Size_GB: 0 (off) or >= 100
MIN_CLIENT_CONN = 2         # Client_Num_Conn >= 2
MAX_EXTRACT_PATH = 90       # path length cap (of 128)


def validate_config(cfg: dict) -> list[tuple[str, str, str, str]]:
    """(field, value, verdict, detail) per validated field."""
    out = []

    host = str(cfg.get("Host_Name", "")).strip()
    out.append(("Host_Name", host, "ok" if host else "FAIL",
                "" if host else "must be non-empty"))

    try:
        port = int(cfg.get("Port_Number", 0))
        port_ok = 1 <= port <= 65535
    except (TypeError, ValueError):
        port, port_ok = 0, False
    out.append(("Port_Number", str(cfg.get("Port_Number", "")),
                "ok" if port_ok else "FAIL",
                "" if port_ok else "must be 1-65535"))

    try:
        batch = int(cfg.get("Batch_Size_GB", 0))
        batch_ok = batch == 0 or batch >= MIN_BATCH_GB
    except (TypeError, ValueError):
        batch, batch_ok = -1, False
    out.append(("Batch_Size_GB", str(cfg.get("Batch_Size_GB", 0)),
                "ok" if batch_ok else "FAIL",
                "" if batch_ok else f"0 (off) or >= {MIN_BATCH_GB}"))

    try:
        conn = int(cfg.get("Client_Num_Conn", 0))
        conn_ok = conn >= MIN_CLIENT_CONN
    except (TypeError, ValueError):
        conn, conn_ok = 0, False
    out.append(("Client_Num_Conn", str(cfg.get("Client_Num_Conn", "")),
                "ok" if conn_ok else "FAIL",
                "" if conn_ok else f"must be >= {MIN_CLIENT_CONN}"))

    path = str(cfg.get("Extract_Path", ""))
    path_ok = 0 < len(path) <= MAX_EXTRACT_PATH
    out.append(("Extract_Path", path, "ok" if path_ok else "FAIL",
                "" if path_ok else f"1-{MAX_EXTRACT_PATH} chars"))

    return out
