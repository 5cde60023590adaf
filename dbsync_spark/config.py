"""YAML configuration model (§1.3) with the reference's defaulting rules.

Mirrors config/ConfigObjects.scala + config/ConfigParser.scala semantics:
- sys defaults: batch=10000, partition=10 (0 -> 100 per the validator,
  ConfigParser.scala:73), maxPollWait=60000, cleanInterval=3600000,
  syncTriggerInterval=1800000, dataKeepHours=24, maxRetry=unbounded,
  retryInterval=10000, pollBlockInterval=1000 (ConfigObjects.scala:34-45)
- sync[] defaults: targetSchema/targetTable default to source; conditions
  default '1=1' (ConfigParser.scala:42-54)
- validation: duplicate db names and unknown source/target dbs rejected
  (ConfigParser.scala:57-71)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from dbsync_spark.operators.route import SyncRule

_UNBOUNDED = 2 ** 31 - 1


@dataclass
class SysConfig:
    batch: int = 10000
    partition: int = 10
    maxPollWait: int = 60000
    cleanInterval: int = 3600000
    syncTriggerInterval: int = 1800000
    dataKeepHours: int = 24
    maxRetry: int = _UNBOUNDED
    retryInterval: int = 10000
    pollBlockInterval: int = 1000
    workDirectory: str = "."
    stateDirectory: str = "state"
    endpointPort: int = 8080
    # engine-side extension (no reference equivalent): status-dir
    # small-files compaction threshold (files); 0 disables.
    # Swept on the retention tick — see SyncApp.status_compaction_pass.
    statusCompactFiles: int = 64


@dataclass
class DbConfig:
    name: str
    type: str = "parquet"  # postgresql | mysql | greenplum | parquet
    url: str | None = None
    user: str | None = None
    password: str | None = None
    sysSchema: str = "dbsync"
    createIndex: bool = False
    maxPoolSize: int = 15
    queryTimeout: int = 10
    sysQueryTimeout: int = 1800


@dataclass
class MonitorRule:
    heartbeatLostOver: int | None = None
    syncBlockedOver: int | None = None
    syncErrorOver: int | None = None
    syncPendingOver: int | None = None
    action: str = "webhook"  # email | webhook | restart
    params: dict = field(default_factory=dict)


@dataclass
class AppConfig:
    sys: SysConfig
    dbs: list[DbConfig]
    syncs: list[SyncRule]
    monitors: list[MonitorRule] = field(default_factory=list)


def parse_config(text: str) -> AppConfig:
    """Parse + validate a YAML config string."""
    import yaml

    raw = yaml.safe_load(text) or {}
    sys_raw = dict(raw.get("sys") or {})
    sys_cfg = SysConfig(**{k: v for k, v in sys_raw.items()
                           if k in SysConfig.__dataclass_fields__})
    if sys_cfg.partition == 0:  # validator floor, ConfigParser.scala:73
        sys_cfg.partition = 100

    dbs = [DbConfig(**{k: v for k, v in d.items()
                       if k in DbConfig.__dataclass_fields__})
           for d in (raw.get("db") or [])]
    names = [d.name for d in dbs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate db names: {names}")
    known = set(names)

    syncs: list[SyncRule] = []
    for s in raw.get("sync") or []:
        if s["sourceDb"] not in known:
            raise ValueError(f"unknown sourceDb {s['sourceDb']!r}")
        for tdb in str(s["targetDb"]).split(","):
            if tdb not in known:
                raise ValueError(f"unknown targetDb {tdb!r}")
            syncs.append(SyncRule(
                target_db=tdb,
                source_db=s["sourceDb"],
                source_schema=s["sourceSchema"],
                source_table=s["sourceTable"],
                source_keys=tuple(k.strip() for k in s["sourceKeys"].split(",")),
                target_schema=s.get("targetSchema"),
                target_table=s.get("targetTable"),
                insert_condition=s.get("insertCondition", "1=1"),
                update_condition=s.get("updateCondition", "1=1"),
                delete_condition=s.get("deleteCondition", "1=1"),
            ))

    monitors = [MonitorRule(**{k: v for k, v in m.items()
                               if k in MonitorRule.__dataclass_fields__})
                for m in (raw.get("monitor") or [])]
    return AppConfig(sys=sys_cfg, dbs=dbs, syncs=syncs, monitors=monitors)
