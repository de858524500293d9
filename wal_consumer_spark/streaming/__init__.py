from wal_consumer_spark.streaming.consumer import (  # noqa: F401
    BucketedParquetKeyValueTarget,
    WalStreamConsumer,
)
from wal_consumer_spark.streaming.metrics import (  # noqa: F401
    ConsumerMetrics,
    WalQueryListener,
    WalState,
)
from wal_consumer_spark.streaming.dedup_index import (  # noqa: F401
    StreamingMinHashIndex,
    minhash_buckets,
)
