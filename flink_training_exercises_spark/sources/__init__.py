from .loaders import (  # noqa: F401
    load_table,
    read_edge_list,
    read_mail_records,
    read_taxi_rides_csv,
    widen_scan,
)
